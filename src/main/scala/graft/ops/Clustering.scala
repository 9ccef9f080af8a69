package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Lineage.TruncateOps

/** Embedding clustering and dimensionality reduction for corpus
  * organization at training-data scale: k-means (the IVF coarse
  * quantizer / SemDeDup grouping primitive, here as a first-class
  * oracle-exact operator) and signed random projection
  * (Johnson–Lindenstrauss embedding compression, the cheap-distance
  * scale path when 64 float dims per candidate pair is already too
  * much I/O).
  *
  * Determinism strategy (the repo-wide oracle discipline, cf. a54 /
  * l60 / l63): all arithmetic that decides an output value runs in
  * exact 64-bit integers. Embeddings are quantized once with
  * floor(x·scale) — floor of an IEEE double is bit-defined, so Spark
  * and DuckDB agree — and every distance / projection after that is
  * integer multiply-adds whose results are independent of
  * accumulation order. That is what makes a DISTRIBUTED engine
  * hash-comparable against a single-threaded oracle: float sums
  * reorder under partial aggregation; integer sums don't care.
  *
  * Scale shape (100 TB / 1000 executors):
  *  - kmeans: Lloyd's with k·dim driver state only. Assignment is a
  *    map-only pass (centroids ride the closure as literals — no
  *    join, no shuffle of the corpus); the update is one partial-
  *    aggregated groupBy(cluster, dim) whose shuffle carries
  *    O(partitions · k · dim) rows, NOT the corpus. Per iteration:
  *    one corpus scan, one k·dim-row collect. This is exactly the
  *    shape of the reference's IVF training loop, minus any
  *    all-pairs or driver-side corpus materialization.
  *  - randomProject: zero state, zero shuffle — the sign matrix is
  *    recomputed identically on every executor from a splitmix-style
  *    integer mix, so projection is a pure codegen'd projection.
  *
  * Reference anchor: the reference exposes embedding clustering only
  * through its ANN index build (IVF coarse quantizer); this makes the
  * primitive available standalone, reusing the same bounded-state
  * contract adjudicated for the l11 quantizer.
  */
object Clustering {

  import org.apache.spark.sql.graft.ColumnBridge
  import graft.functions.VectorExpressions.LongVectorSqDist

  /** floor(x·scale) integer codes of a float embedding — the shared
    * quantization both engines can reproduce bit-for-bit. NOT the l15
    * int8 path (that one optimizes reconstruction error with a
    * per-vector scale); this one is a fixed global grid so that
    * distances between DIFFERENT vectors stay comparable.
    */
  def quantizeCodes(embedding: Column, scale: Int): Column =
    transform(embedding, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact integer squared L2 distance (native codegen'd kernel). */
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(LongVectorSqDist(
      ColumnBridge.expression(a.cast("array<bigint>")),
      ColumnBridge.expression(b.cast("array<bigint>"))))

  /** One Lloyd's assignment pass against a driver-held centroid table:
    * argmin over k centroids of sqDist, ties to the lowest centroid
    * id. Map-only: the centroid MATRIX rides the plan as one codegen
    * reference object (functions.VectorExpressions.KMeansAssign), so
    * the pass composes with whatever partitioning the input already
    * has and the per-row cost is one tight k·dim primitive loop —
    * the k-inline-sqDist-structs formulation this replaces outgrew
    * the codegen budget at k≈64 and fell back to interpreted
    * evaluation (52 s → ~2 s at 500k rows / k=256, KmProbe r9).
    * Callers pass centroids sorted by cid ascending — that order IS
    * the tie-break.
    */
  private def assign(q: DataFrame, centroids: Seq[(Long, Seq[Long])]): DataFrame = {
    val cids = centroids.map(_._1).toArray
    require(cids.sameElements(cids.sorted), "centroids must be cid-ascending")
    val cents = centroids.map(_._2.toArray).toArray
    q.withColumn("best", ColumnBridge.column(
        graft.functions.VectorExpressions.KMeansAssign(
          ColumnBridge.expression(col("q").cast("array<bigint>")), cids, cents)))
      .select(col("vec_id"), col("q"),
        col("best.cid").as("cluster"), col("best.dist").as("dist"))
  }

  /** Lloyd's k-means over an embedding column, exact-integer flavor.
    *
    * Init: the k vectors with the lowest ids (deterministic, oracle-
    * reproducible — k-means++ would need a random stream both engines
    * share; id-init is the standard trick for cross-engine pins).
    * Update: per-cluster per-dimension floor(mean) — floor(sum/count)
    * in double is exact here because sum and count are far below 2^53
    * and a non-integer rational p/q with q < 2^26 is ≥ 2^-26 away
    * from any integer, 26 bits wider than the division's rounding
    * error. Clusters that lose every member VANISH (no respawn
    * heuristic) — documented semantics the oracle shares.
    *
    * Returns the final assignment (vec_id, cluster, dist) against the
    * post-`iters`-updates centroids.
    *
    * Driver state: k·dim longs per iteration — bounded contract like
    * the l11 IVF quantizer (k and dim are model hyper-parameters, not
    * data-sized).
    */
  def kmeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Int = 1000): DataFrame = {
    require(k > 0 && iters >= 0)
    val q = emb.select(
      col(idCol).cast("long").as("vec_id"),
      quantizeCodes(col(vecCol), scale).as("q"))
    // Reused iters+2 times (init scan + one assign per update + the
    // final assign): cache the quantized codes, not the float source.
    q.persist()
    try {
      val centroids = lloyd(q, k, iters)
      assign(q, centroids).select(col("vec_id"), col("cluster"), col("dist"))
    } finally q.unpersist()
  }

  /** The trained centroid TABLE itself — the model artifact a serving
    * path (IVF coarse quantizer, streaming drift monitor) holds while
    * scoring arriving vectors with [[nearestCentroid]]. Same training
    * loop as [[kmeans]], same bounded k·dim driver state.
    */
  def kmeansCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Int = 1000): Seq[(Long, Seq[Long])] = {
    require(k > 0 && iters >= 0)
    val q = emb.select(
      col(idCol).cast("long").as("vec_id"),
      quantizeCodes(col(vecCol), scale).as("q"))
    q.persist()
    try lloyd(q, k, iters) finally q.unpersist()
  }

  /** Lloyd's training loop over persisted codes (callers hold the
    * persist). Returns cid-ascending centroids after `iters` updates.
    */
  private def lloyd(q: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Long])] = {
    var centroids: Seq[(Long, Seq[Long])] =
      q.orderBy(col("vec_id")).limit(k).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    var it = 0
    while (it < iters) {
      val upd = assign(q, centroids)
        .select(col("cluster"), posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("i"),
          floor(col("s").cast("double") / col("n")).cast("long").as("cv"))
        .collect() // k·dim rows — bounded
      centroids = upd.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
        case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
      it += 1
    }
    centroids
  }

  /** Persist a trained centroid model as parquet (cid, c) — the
    * artifact a standing deployment keeps between sessions, the same
    * lesson as the persisted BM25 index stats: training once and
    * serving forever beats re-deriving the model per batch. Written
    * as one file (k·dim rows — model-sized, not data-sized).
    */
  def saveCentroids(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Seq[Long])],
      path: String): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "c").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCentroids]] model back into the driver-held,
    * cid-ascending form every serving entry point takes. */
  def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Seq[Long])] =
    spark.read.parquet(path)
      .select(col("cid").cast("long"), col("c").cast("array<bigint>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq

  /** struct(dist, cid) of the nearest centroid for a float embedding
    * column — the stateless serving expression (model rides the plan
    * as one reference object; streaming-safe: no join, no state).
    */
  def nearestCentroid(
      vecCol: Column,
      centroids: Seq[(Long, Seq[Long])],
      scale: Int = 1000): Column = {
    val cids = centroids.map(_._1).toArray
    require(cids.sameElements(cids.sorted), "centroids must be cid-ascending")
    val cents = centroids.map(_._2.toArray).toArray
    ColumnBridge.column(
      graft.functions.VectorExpressions.KMeansAssign(
        ColumnBridge.expression(
          quantizeCodes(vecCol, scale).cast("array<bigint>")), cids, cents))
  }

  /** The deterministic ±1 sign of projection cell (i → j): a fixed
    * integer mix whose every operation exists verbatim in DuckDB SQL
    * (`//` = Spark's `div` on non-negative operands), so the oracle
    * re-derives the identical matrix symbolically while Spark bakes
    * it into the plan as literals. Middle bit (not the low bit — the
    * low bit of h·odd is just parity of h) of a Knuth-style
    * multiplicative mix.
    */
  def projSign(i: Int, j: Int): Long = {
    val h = (i.toLong * 7919L + j.toLong * 104729L + 12345L) * 2654435761L
    1L - 2L * ((h / 1048576L) % 2L)
  }

  /** Signed random projection (Johnson–Lindenstrauss) of integer
    * embedding codes down to outDim dims: out_j = Σ_i q_i · s(i, j).
    * The sign matrix is driver-computed and baked in as literals, so
    * the whole operator is ONE codegen'd map-only projection — no
    * model table, no join, no shuffle; at 100 TB it runs at scan
    * speed and cuts every downstream distance computation from dim
    * to outDim multiplies. Output exploded to scalar rows
    * (vec_id, j, proj) — the a45 lesson: keep oracle-compared columns
    * scalar.
    */
  def randomProject(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      outDim: Int,
      scale: Int = 1000): DataFrame =
    randomProjectVec(emb, idCol, vecCol, dim, outDim, scale)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "proj")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("proj"))

  /** Array-output variant of [[randomProject]] for composition (e.g.
    * project → cluster): (vec_id, embedding[outDim]) in one map-only
    * projection, no explode/reassemble round-trip.
    */
  def randomProjectVec(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      outDim: Int,
      scale: Int = 1000): DataFrame = {
    // The projection is a kernel expression with the sign matrix as a
    // codegen reference object, NOT a dim·outDim-term unrolled sum:
    // the unrolled form codegens standalone but drops to interpreted
    // evaluation once composed under a join — and interpreted, every
    // term re-ran the full quantize transform too. Measured on the
    // x14 pipeline: 73 s unrolled-inline → 29 s with q named → 7 s
    // kernelized (KmProbe r9). Same repo rule as the r8 straggler
    // hunt: spec-pinned hot loops live in kernels.
    val signs = Array.tabulate(outDim, dim)((j, i) => projSign(i, j))
    val q = emb.select(col(idCol).cast("long").as("vec_id"),
      quantizeCodes(col(vecCol), scale).as("q"))
    q.select(col("vec_id"), ColumnBridge.column(
      graft.functions.VectorExpressions.SignedRandomProject(
        ColumnBridge.expression(col("q").cast("array<bigint>")), signs))
      .as("embedding"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, then prune near-duplicates WITHIN each cluster —
    * the cluster bound is what makes semantic dedup tractable at
    * corpus scale (candidates are O(Σ cluster²), never all-pairs; at
    * 100 TB you run k large enough that clusters are ~10³–10⁴ docs, so
    * the within-cluster join is bucket-local work exactly like the
    * MinHash band join in ops/Dedup). Deterministic keep rule (the
    * paper keeps a per-group representative; rule choice is free): a
    * vector is a duplicate iff ANY lower-id vector in its cluster has
    * cosine ≥ tau with it — same contract as the repo's other dedup
    * families, and exactly re-derivable by the oracle because the
    * cosine is the bit-pinned left-fold dot (Similarity.dot /
    * duckDot).
    *
    * Contract: zero-norm / NaN embeddings are unscorable and never
    * witness or receive a dup flag (they return is_dup = false) — the
    * oracle carries the matching WHERE. Clusters larger than
    * [[SemDedupClusterCap]] members are triangle-split so one
    * degenerate cluster can't become a single quadratic straggler task.
    *
    * Returns (vec_id, cluster, is_dup).
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      tau: Double,
      scale: Int = 1000): DataFrame =
    semDedupCapped(emb, idCol, vecCol, k, iters, tau, scale, SemDedupClusterCap)

  /** Cluster size above which [[semDedup]] splits a cluster's join —
    * the LSH bucket cap, and the measured sweet spot: the KmSkewProbe
    * drive (200k vectors, one 50k-member hot cluster) measured wall
    * 30.5 s / max task 28.1 s unsplit vs 7.0 s / 4.8 s at cap 2048
    * (4096: 12.4 s, 8192: 23.1 s) — per-task work drops with cap²,
    * replication only grows linearly, so the smaller cap wins until
    * tasks are scheduler-noise-sized.
    */
  private val SemDedupClusterCap: Int = 2048

  /** [[semDedup]] with its cluster cap as an argument. */
  private[ops] def semDedupCapped(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, tau: Double, scale: Int,
      cap: Int): DataFrame = {
    // vecs feeds BOTH sides of the candidate join and the final left
    // join — localCheckpoint materializes the (assignment ⋈ input)
    // working set ONCE instead of three times. This matters doubly
    // when the input is itself a derived pipeline (x14: the JL
    // projection): a composed plan that outgrows the codegen budget
    // re-evaluates the upstream INTERPRETED per use — measured 73 s
    // vs 4 s at 50k vectors (KmProbe r9). Necessarily-retained
    // contract as GraphRank's final checkpoint; freed by the
    // ContextCleaner when the returned frame is dropped.
    val spark = emb.sparkSession
    val assigned = kmeans(emb, idCol, vecCol, k, iters, scale)
      .select(col("vec_id"), col("cluster"))
    val vecs = emb.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<float>").as("emb"))
      .join(assigned, "vec_id")
      .withColumn("nrm", Similarity.norm(col("emb")))
      .truncateLineage()
    // Candidate-side contract: a zero-norm (or NaN-element) embedding
    // is UNSCORABLE — cosine = dot/0 is NaN, and Spark's NaN compares
    // greater than everything (NaN >= tau is TRUE) while DuckDB's
    // 0/0 yields NULL, so without this filter a failed-encode zero
    // vector silently flags dup against every cluster-mate in one
    // engine and never in the other (r9 ADVICE). Excluded vectors
    // still appear in the OUTPUT (is_dup = false) via the final left
    // join — they just can't witness or be flagged as duplicates.
    // NOTE nrm > 0 alone does not exclude NaN in Spark (NaN > 0 is
    // true); the isnan guard is load-bearing.
    val scorable = vecs.filter(col("nrm") > 0 && !isnan(col("nrm")))
    // Hot-cluster triangle split (the ops/Dedup degenerate-bucket
    // pattern, relational form): the within-cluster self-join is
    // O(Σ cluster²) by design, but ONE degenerate cluster (k too
    // small, boilerplate-collapsed embeddings) otherwise verifies its
    // whole quadratic share inside a single task. Members of clusters
    // over `cap` split into g = ceil(n/cap) sub-groups by id hash and
    // replicate to the g tasks containing their sub-group; task
    // (ti, tj) takes within-group pairs on the diagonal (ti == tj —
    // only own-group members land there) and cross-group pairs
    // off-diagonal (sub_a <> sub_b — a same-group pair would appear
    // in every shared task), so every unordered pair is generated
    // exactly once and per-task work is bounded by ~cap². The size
    // table is ≤ k rows (k is a model hyper-parameter) — always
    // broadcast, no stats gate needed.
    // Cluster sizes are ≤ k rows (k is a model hyper-parameter) — the
    // split decision is driver-side, so the COMMON case (no cluster
    // over cap) keeps the plain 1-key join with no explode/replication
    // plumbing at all; only a genuinely skewed corpus pays the split.
    val sizes = scorable.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val maxCn = if (sizes.isEmpty) 0L else sizes.map(_._2).max
    val dups = if (maxCn <= cap) {
      val a = scorable.select(col("cluster"), col("vec_id").as("id_a"),
        col("emb").as("emb_a"), col("nrm").as("nrm_a"))
      val b = scorable.select(col("cluster"), col("vec_id").as("id_b"),
        col("emb").as("emb_b"), col("nrm").as("nrm_b"))
      // within-cluster candidate join; dup if a lower id clears tau
      a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")) >= tau)
        .select(col("id_b").as("vec_id")).distinct()
    } else {
      import spark.implicits._
      val gTab = broadcast(sizes.toSeq.map { case (c, n) =>
        (c, math.max(1L, (n + cap - 1) / cap).toInt)
      }.toDF("cluster", "g"))
      val withSub = scorable.join(gTab, "cluster")
        .withColumn("sub", pmod(hash(col("vec_id")), col("g")))
        .withColumn("t", explode(sequence(lit(0), col("g") - 1)))
        .select(col("cluster"),
          least(col("sub"), col("t")).as("ti"),
          greatest(col("sub"), col("t")).as("tj"),
          col("vec_id"), col("emb"), col("nrm"), col("sub"))
      val a = withSub.select(col("cluster"), col("ti"), col("tj"),
        col("vec_id").as("id_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a"), col("sub").as("sub_a"))
      val b = withSub.select(col("cluster"), col("ti"), col("tj"),
        col("vec_id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b"), col("sub").as("sub_b"))
      a.join(b, Seq("cluster", "ti", "tj"))
        .filter(col("id_a") < col("id_b") &&
          (col("ti") === col("tj") || col("sub_a") =!= col("sub_b")))
        .filter(Similarity.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")) >= tau)
        .select(col("id_b").as("vec_id")).distinct()
    }
    vecs.join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  // ---------------------------------------------------------------
  // Oracle SQL builders (DuckDB) — generated, like the l66 unrolled
  // PPR chain, so registration stays in lockstep with `iters`.
  // ---------------------------------------------------------------

  private def duckAssign(qRel: String, cRel: String, dim: Int): String =
    s"""SELECT vec_id, cid AS cluster, dist FROM (
       |  SELECT v.vec_id, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, $dim),
       |           i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT) AS dist
       |    FROM $qRel v CROSS JOIN $cRel c)
       | QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1""".stripMargin

  /** The WITH-body of the unrolled Lloyd's chain, ending with a CTE
    * named `finalName` holding the final (vec_id, cluster, dist)
    * assignment — embeddable prefix for composed oracles (semDedup).
    */
  def kmeansOracleCtes(
      k: Int, iters: Int, dim: Int, scale: Int, finalName: String,
      source: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
         |    FROM $source),
         |c0 AS (SELECT vec_id AS cid, q AS c FROM q ORDER BY vec_id LIMIT $k)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           |a$t AS (${duckAssign("q", s"c${t - 1}", dim)}),
           |u$t AS (
           |  SELECT a.cluster AS cid, g.i AS i,
           |         CAST(floor(CAST(sum(v.q[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |    FROM a$t a JOIN q v USING (vec_id)
           |         CROSS JOIN generate_series(1, $dim) g(i)
           |   GROUP BY 1, 2),
           |c$t AS (SELECT cid, list(cv ORDER BY i) AS c FROM u$t GROUP BY cid)""".stripMargin)
    }
    sb.append(s""",
      |$finalName AS (
      |${duckAssign("q", s"c$iters", dim)})""".stripMargin)
    sb.toString
  }

  /** Unrolled Lloyd's chain matching [[kmeans]] exactly (id-init,
    * floor-mean update, vanishing empty clusters, (dist, cid)
    * tie-break).
    */
  def kmeansOracleSql(k: Int, iters: Int, dim: Int, scale: Int): String =
    kmeansOracleCtes(k, iters, dim, scale, "akm") +
      "\nSELECT vec_id, cluster, dist FROM akm"

  /** DuckDB left-fold double dot product over `dim` elements — the
    * same strict float→double left-to-right order as Similarity.dot,
    * so cosines are bit-equal across engines (the l05/l09 contract).
    */
  private def duckDotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(generate_series(1, $dim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Composed twin of [[semDedup]]: the unrolled k-means chain, then
    * within-cluster cosine pruning with the identical fold arithmetic
    * and keep rule.
    */
  def semDedupOracleSql(
      k: Int, iters: Int, dim: Int, scale: Int, tau: Double): String =
    kmeansOracleCtes(k, iters, dim, scale, "akm") +
      s""",
         |ve AS (
         |  SELECT e.vec_id, a.cluster, e.embedding,
         |         sqrt(${duckDotSql("e.embedding", "e.embedding", dim)}) AS nrm
         |    FROM embeddings e JOIN akm a USING (vec_id)),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |    FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |   WHERE a.nrm > 0 AND NOT isnan(a.nrm)
         |     AND b.nrm > 0 AND NOT isnan(b.nrm)
         |     AND ${duckDotSql("a.embedding", "b.embedding", dim)} / (a.nrm * b.nrm) >= $tau)
         |SELECT v.vec_id, v.cluster, (d.vec_id IS NOT NULL) AS is_dup
         |  FROM ve v LEFT JOIN dups d ON v.vec_id = d.vec_id""".stripMargin

  /** Oracle for the h06 drift monitor: train the centroid model on
    * `modelSource` with the unrolled Lloyd's chain, score EVERY
    * embeddings row against the final centroids, window by the
    * vec_id-derived event time, and aggregate the integer-exact
    * drift stats — the full streaming-monitor semantics re-derived.
    */
  def driftOracleSql(
      k: Int, iters: Int, dim: Int, scale: Int,
      farThreshold: Long, modelSource: String): String =
    kmeansOracleCtes(k, iters, dim, scale, "akm_model", modelSource) +
      s""",
         |qall AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
         |    FROM embeddings),
         |sc AS (${duckAssign("qall", s"c$iters", dim)}),
         |g AS (SELECT 1704067200 + (vec_id % 600) // 60 * 60 AS es, dist FROM sc)
         |SELECT strftime(make_timestamp(es * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
         |       COUNT(*) AS n_vecs,
         |       CAST(SUM(dist) AS BIGINT) // COUNT(*) AS mean_dist,
         |       (CAST(SUM(CASE WHEN dist > $farThreshold THEN 1 ELSE 0 END) AS BIGINT) * 1000) // COUNT(*) AS far_rate_milli
         |  FROM g GROUP BY es""".stripMargin

  /** Symbolic twin of [[randomProject]]: same quantization, same sign
    * mix re-derived in SQL per (i, j).
    */
  def randomProjectOracleSql(dim: Int, outDim: Int, scale: Int): String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
       |    FROM embeddings),
       |g AS (
       |  SELECT vec_id, j.j AS j, i.i AS i, q[i.i + 1] AS v
       |    FROM q
       |         CROSS JOIN generate_series(0, ${outDim - 1}) j(j)
       |         CROSS JOIN generate_series(0, ${dim - 1}) i(i))
       |SELECT vec_id, j,
       |       CAST(SUM(v * (1 - 2 * ((((i * 7919 + j * 104729 + 12345) * 2654435761) // 1048576) % 2))) AS BIGINT) AS proj
       |  FROM g GROUP BY vec_id, j""".stripMargin
}
