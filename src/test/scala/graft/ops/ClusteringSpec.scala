package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def embDf(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("kmeans separates two obvious blobs and converges in one update") {
    // Blob A around (1, 0), blob B around (0, 1). Init = vec 0 (blob A)
    // and vec 1 (blob B) — one Lloyd's round lands each point with its
    // blob and further rounds change nothing.
    val emb = embDf(
      0L -> Seq(1.0f, 0.1f), 1L -> Seq(0.1f, 1.0f),
      2L -> Seq(0.9f, 0.0f), 3L -> Seq(0.0f, 0.9f),
      4L -> Seq(1.1f, 0.2f), 5L -> Seq(0.2f, 1.1f))
    def clusters(iters: Int): Map[Long, Long] =
      Clustering.kmeans(emb, "vec_id", "embedding", k = 2, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = clusters(1)
    assert(c1(0L) == 0L && c1(2L) == 0L && c1(4L) == 0L)
    assert(c1(1L) == 1L && c1(3L) == 1L && c1(5L) == 1L)
    // fixed point: more iterations = identical assignment
    assert(clusters(3) == c1)
  }

  test("kmeans iters=0 assigns against the raw id-init centroids") {
    val emb = embDf(
      0L -> Seq(0.0f, 0.0f), 1L -> Seq(1.0f, 1.0f), 2L -> Seq(0.9f, 0.9f))
    val out = Clustering.kmeans(emb, "vec_id", "embedding", k = 2, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // codes: (0,0), (1000,1000), (899,899) — 0.9f widens to
    // 0.89999997…, so floor(x·1000) = 899, the same value DuckDB
    // computes from the parquet float. dist(v2, c1) = 101²·2.
    assert(out == Set((0L, 0L, 0L), (1L, 1L, 0L),
      (2L, 1L, 101L * 101L * 2)))
  }

  test("kmeans distance ties break to the lowest centroid id") {
    // vec 2 is equidistant from both init centroids.
    val emb = embDf(
      0L -> Seq(0.0f), 1L -> Seq(2.0f), 2L -> Seq(1.0f))
    val out = Clustering.kmeans(emb, "vec_id", "embedding", k = 2, iters = 0)
      .filter(col("vec_id") === 2L).collect()
    assert(out.head.getLong(1) == 0L)
  }

  test("empty clusters vanish instead of respawning") {
    // Duplicate points seed duplicate init centroids (the real-data
    // way a cluster empties): c0 and c1 both start at (1,1), every
    // point ties between them, and the (dist, cid) tie-break sends
    // ALL of them to c0 — cluster 1 has zero members after round 1
    // and must not reappear in the final assignment.
    val emb = embDf(
      0L -> Seq(1.0f, 1.0f), 1L -> Seq(1.0f, 1.0f),
      2L -> Seq(2.0f, 2.0f), 3L -> Seq(0.0f, 0.0f))
    val out = Clustering.kmeans(emb, "vec_id", "embedding", k = 2, iters = 1)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(out == Set(0L))
  }

  test("sqDist kernel: nulls and length mismatch yield null, values exact") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L), Seq(4L, 6L)),
      (Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
    val got = df.select(Clustering.sqDist(col("a"), col("b"))).as[Long].collect()
    assert(got.toSeq == Seq(9L + 16L, 0L))
    val mismatch = Seq((Seq(1L), Seq(1L, 2L))).toDF("a", "b")
      .select(Clustering.sqDist(col("a"), col("b"))).collect()
    assert(mismatch.head.isNullAt(0))
  }

  test("centroid model round-trips through parquet and serves identically") {
    val emb = embDf(
      0L -> Seq(0.0f, 0.0f), 1L -> Seq(1.0f, 1.0f),
      2L -> Seq(0.2f, 0.1f), 3L -> Seq(0.8f, 0.9f))
    val model = Clustering.kmeansCentroids(emb, "vec_id", "embedding",
      k = 2, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_cents").toString + "/model.parquet"
    Clustering.saveCentroids(spark, model, path)
    val loaded = Clustering.loadCentroids(spark, path)
    assert(loaded == model)
    val a = emb.select(Clustering.nearestCentroid(col("embedding"), model))
      .collect().map(_.toString).toSeq
    val b = emb.select(Clustering.nearestCentroid(col("embedding"), loaded))
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("plan pins: projection and assignment are map-only (no Exchange, no Join)") {
    val emb = embDf(0L -> Seq(1.0f, 2.0f), 1L -> Seq(3.0f, 4.0f))
    // the serving projection: one ProjectExec over the scan
    val projPlan = Clustering.randomProjectVec(emb, "vec_id", "embedding",
      dim = 2, outDim = 4).queryExecution.executedPlan.toString
    assert(!projPlan.contains("Exchange") && !projPlan.contains("Join"),
      s"JL projection must be map-only:\n$projPlan")
    // the serving assignment: nearestCentroid is a scalar expression —
    // centroids ride the plan, no join against a model table
    val servePlan = emb.select(Clustering.nearestCentroid(col("embedding"),
        Seq(0L -> Seq(0L, 0L), 1L -> Seq(1000L, 1000L))))
      .queryExecution.executedPlan.toString
    assert(!servePlan.contains("Exchange") && !servePlan.contains("Join"),
      s"centroid serving must be map-only:\n$servePlan")
  }

  test("randomProject matches a hand computation of the sign mix") {
    val emb = embDf(7L -> Seq(0.5f, -0.25f, 1.0f))
    val got = Clustering.randomProject(emb, "vec_id", "embedding",
        dim = 3, outDim = 2, scale = 1000)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val q = Seq(500L, -250L, 1000L)
    val expect = (0 until 2).map { j =>
      j.toLong -> (0 until 3).map(i => q(i) * Clustering.projSign(i, j)).sum
    }.toMap
    assert(got == expect)
  }

  test("semDedup flags within-cluster near-duplicates, keeps the lowest id") {
    // Two blobs; vecs 2 and 4 duplicate vec 0's direction (cos = 1),
    // vec 5 duplicates vec 1's. Lowest id in each neighborhood stays.
    val emb = embDf(
      0L -> Seq(1.0f, 0.0f), 1L -> Seq(0.0f, 1.0f),
      2L -> Seq(1.0f, 0.0f), 3L -> Seq(0.6f, -0.8f),
      4L -> Seq(0.5f, 0.0f), 5L -> Seq(0.0f, 0.7f))
    val got = Clustering.semDedup(emb, "vec_id", "embedding",
        k = 2, iters = 1, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(0L -> false, 1L -> false, 2L -> true,
      3L -> false, 4L -> true, 5L -> true))
  }

  test("semDedup is cluster-bounded: cross-cluster twins are NOT flagged") {
    // The documented SemDeDup approximation: identical vectors that
    // land in different clusters never meet. Construct it: init
    // centroids are vecs 0/1 (orthogonal); vec 2 ties exactly between
    // them? No — make vec 2 equal to vec 1 but assign-separated by
    // seeding: vec 0=(1,0), vec 1=(0,1); vec 2=(0.9, 0.9) sits in
    // cluster 0 by the tie-break after quantization asymmetry, while
    // vec 3=(0.9, 0.95) lands cluster 1 — near-identical directions,
    // different clusters, not compared.
    val emb = embDf(
      0L -> Seq(1.0f, 0.0f), 1L -> Seq(0.0f, 1.0f),
      2L -> Seq(0.9f, 0.9f), 3L -> Seq(0.9f, 0.95f))
    val out = Clustering.semDedup(emb, "vec_id", "embedding",
        k = 2, iters = 0, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq.sortBy(_._1)
    val byId = out.map(t => t._1 -> t).toMap
    // cos(v2, v3) ≈ 0.9996 — over tau — but they sit in different
    // clusters, so neither is flagged
    assert(byId(2L)._2 != byId(3L)._2)
    assert(!byId(2L)._3 && !byId(3L)._3)
  }

  test("semDedup hot-cluster triangle split is output-identical") {
    // 40 vectors, all in ONE cluster (k=1): with the cap forced to 6
    // the within-cluster join splits into g=7 sub-groups / 28 task
    // pairs, and every unordered pair must still be generated exactly
    // once — a dropped cross-group or diagonal task loses dup flags,
    // a doubled one is invisible here but caught by the distinct().
    // ids 0..19 are one near-dup direction family, 20..39 another.
    val rows = (0L until 40L).map { i =>
      val base = if (i < 20) Seq(1.0f, 0.01f * i) else Seq(0.01f * i, 1.0f)
      i -> base
    }
    val emb = embDf(rows: _*)
    def run(cap: Int): Map[Long, Boolean] =
      Clustering.semDedupCapped(emb, "vec_id", "embedding",
          k = 1, iters = 1, tau = 0.999, scale = 1000, cap = cap)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val baseline = run(2048) // single task for the cluster
    assert(run(6) == baseline)
  }

  test("semDedup: zero-norm and NaN embeddings are unscorable, never flagged or witnessing") {
    // vec 2 is a failed-encode ZERO vector: cos(v2, ·) = 0/0 = NaN,
    // and Spark's NaN >= tau is TRUE — without the scorable filter v2
    // would flag dup against every cluster-mate (r9 ADVICE). vec 3
    // carries a NaN element (norm NaN, NaN > 0 is true in Spark — the
    // isnan guard is what catches it). Both must come back is_dup =
    // false and must not flag the legitimate vec 1.
    val emb = embDf(
      0L -> Seq(1.0f, 0.0f), 1L -> Seq(1.0f, 0.0f),
      2L -> Seq(0.0f, 0.0f), 3L -> Seq(Float.NaN, 1.0f))
    val got = Clustering.semDedup(emb, "vec_id", "embedding",
        k = 1, iters = 0, tau = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(0L -> false, 1L -> true, 2L -> false, 3L -> false))
  }

  test("randomProject signs are balanced and JL preserves neighbor order") {
    // sign balance: over the 64×16 matrix the mean |sum of signs per
    // row| should be far from saturated (a broken mix that returns
    // constant sign fails this hard).
    val signs = for (i <- 0 until 64; j <- 0 until 16) yield Clustering.projSign(i, j)
    val total = signs.sum
    assert(math.abs(total) < 200, s"sign mix is biased: $total")

    // JL sanity: a vector's nearest neighbor in the original space
    // stays nearer than a far point in the projected space.
    val rnd = new scala.util.Random(42)
    def vec(base: Array[Float], noise: Float): Seq[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * noise).toSeq
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val far = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val emb = embDf(0L -> base.toSeq, 1L -> vec(base, 0.05f), 2L -> far.toSeq)
    val proj = Clustering.randomProject(emb, "vec_id", "embedding",
        dim = 64, outDim = 16)
      .groupBy("vec_id").agg(sort_array(collect_list(struct(col("j"), col("proj")))).as("p"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))).toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d2(proj(0L), proj(1L)) < d2(proj(0L), proj(2L)))
  }
}
