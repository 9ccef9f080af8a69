package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators.
  *
  * Scale design: brute-force top-k is the correctness baseline and is
  * only sane when one side is small (queries broadcast against the full
  * corpus — a map-only pass, no shuffle of the corpus). The scale path
  * is LSH bucketing: deterministic random-hyperplane signs partition
  * the corpus; candidate generation joins on the bucket key only. Both
  * avoid materializing an all-pairs product.
  */
object Similarity {

  /** Left-to-right double-accumulated dot product of two float arrays.
    * Native Catalyst expression (functions/VectorExpressions) with
    * doGenCode: the aggregate(zip_with(…)) formulation is INTERPRETED
    * by Catalyst (HOF lambdas don't codegen) at ~7 µs/element, and the
    * kernel-UDF replacement still boxed 2×dim Floats per call at the
    * UDF boundary — per candidate pair in every similarity join. The
    * expression reads primitive floats straight off ArrayData inside
    * WholeStageCodegen. Accumulation is the same strict left-to-right
    * double order (float→double widening per element), so results stay
    * bit-identical to the fold, the UDF, and the DuckDB oracles; null
    * array / length mismatch / null element → null, as before.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.VectorExpressions.FloatVectorDot(
        org.apache.spark.sql.graft.ColumnBridge.expression(a.cast("array<float>")),
        org.apache.spark.sql.graft.ColumnBridge.expression(b.cast("array<float>"))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a per-pair dot and per-VECTOR precomputed norms:
    * `dot / (na * nb)` — the identical expression tree to [[cosine]]
    * (so results are bit-equal and the DuckDB oracles stay green), but
    * the two sqrt(dot(x,x)) factors are evaluated once per vector in a
    * projection below the join instead of once per candidate pair. In
    * a near-dup-dense block a vector appears in O(block) pairs; per-
    * pair norm recomputation tripled the UDF/boxing cost of every
    * similarity join.
    */
  private def cosinePrenormed(dotAb: Column, na: Column, nb: Column): Column =
    dotAb / (na * nb)

  /** Per-query top-k of scored candidate rows (query_id, vec_id,
    * scoreCol) under (score DESC, vec_id ASC), via the O(k)-state
    * top_k_by aggregate rather than a row_number window: partial
    * aggregation prunes to k rows map-side, so the shuffle carries
    * O(k · partitions) rows instead of every scored candidate —
    * the difference between a per-query reducer bottleneck and a
    * flat profile at 100 TB corpus scale.
    */
  private def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topKBy(col(scoreCol), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as(scoreCol), (col("pos") + 1).cast("long").as("rank"))

  /** Brute-force cosine top-k: every query (small, broadcast) against
    * every corpus vector, per-query top-k by (cosine desc, vec_id).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int): DataFrame = {
    val joined = corpus
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(queries.select(
        col("vec_id").as("query_id"), col("embedding").as("query_emb"),
        norm(col("embedding")).as("qnrm"))))
      .select(
        col("query_id"), col("vec_id"),
        cosinePrenormed(dot(col("embedding"), col("query_emb")),
          col("nrm"), col("qnrm")).as("cos"))
      .filter(col("query_id") =!= col("vec_id"))
    topKPerQuery(joined, "cos", k)
  }

  /** splitmix64-derived pseudo-random hyperplane component in [-1, 1),
    * stable across JVMs. Public so oracle generation can inline the
    * identical constants into external SQL.
    */
  def lshPlaneComponent(b: Int, d: Int, seed: Long): Double = {
    var x = (b.toLong + seed * 8191L) * 0x9e3779b97f4a7c15L +
      d.toLong * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x = x ^ (x >>> 31)
    (x.toDouble / Long.MaxValue.toDouble)
  }

  /** Deterministic random-hyperplane LSH bucket id (nBits sign bits):
    * bit b is set when the projection onto hyperplane b is >= 0, with
    * hyperplane component [[lshPlaneComponent]](b, d, seed) — no stored
    * model, so executors recompute it identically with zero
    * coordination. The nBits×dim plane matrix lives in the closure and
    * projection is a tight double loop; an O(nBits·dim) Catalyst
    * expression tree (640 nodes at 10×64) blew past JIT-friendly
    * generated-code sizes and ran interpreted — the l10 sweep
    * straggler. Accumulation is strict left-to-right in double, so
    * buckets are bit-identical to that expression form (LlmOpsSpec
    * keeps it as the oracle); null/short embeddings yield bucket 0.
    */
  private[ops] def lshBucketKernel(nBits: Int, dim: Int, seed: Long)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val planes = Array.tabulate(nBits, dim)((b, d) => lshPlaneComponent(b, d, seed))
    udf((emb: Seq[Double]) => {
      if (emb == null || emb.length < dim) 0L
      else {
        var bucket = 0L
        var b = 0
        while (b < nBits) {
          val p = planes(b)
          var s = 0.0
          var d = 0
          while (d < dim) { s += emb(d) * p(d); d += 1 }
          if (s >= 0) bucket += (1L << b)
          b += 1
        }
        bucket
      }
    })
  }

  /** LSH-bucketed approximate near-duplicate pairs: corpus shuffles on
    * the bucket key; pairs form only within a bucket and are verified
    * with the exact cosine. Multi-probe = nTables independent bucketings
    * unioned (recall knob).
    */
  def lshNearDupPairs(
      corpus: DataFrame,
      dim: Int,
      nBits: Int = 12,
      nTables: Int = 4,
      threshold: Double = 0.9): DataFrame = {
    val normed = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val tables = (0 until nTables).map { t =>
      // per-table seed gives independent hyperplane sets
      normed.select(
        col("vec_id"), col("embedding"), col("nrm"),
        lshBucketKernel(nBits, dim, seed = t.toLong)(
          col("embedding").cast("array<double>")).as("bucket"),
        lit(t).as("table_id"))
    }.reduce(_ unionAll _)
    val left = tables.select(col("table_id"), col("bucket"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val right = tables.select(col("table_id"), col("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    left
      .join(right, Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosinePrenormed(dot(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cos")).as("cos"))
  }

  /** The nProbe nearest IVF lists for a vector, ranked by cosine
    * against unit-normalized centroids (norm(emb) is constant across
    * centroids, so ranking by dot suffices). Ties break on list id.
    *
    * Kernel UDF over a BROADCAST centroid matrix — the 100 TB shape:
    * the model ships to each executor once (not per task closure, not
    * as a plan literal), and scoring is a tight double loop. The
    * previous nested-HOF formulation (zip_with/aggregate over a
    * typedLit matrix) kept the expression tree O(1) in nLists and dim
    * but was INTERPRETED per row (~7 µs/element) — at nLists=1024,
    * dim=768 that is ~5 s per corpus row, i.e. unusable at exactly the
    * scale IVF exists for. The loop accumulates each centroid's dot in
    * the same strict left-to-right order as the old fold and sorts by
    * (negdot, list_id), so assignments and probe lists are identical.
    */
  private def nearestListsUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((emb: Seq[Float]) => nearestLists(bc.value, emb, nProbe))

  /** The probe/assignment selection kernel: assignment (nProbe = 1)
    * in [[ivfCentroids]] and [[ivfAssignWithModel]], probing in
    * serving, and driver-side in [[ivfTopKFromPartitionedIndex]], which
    * resolves a query batch's probe union to fold it into a
    * partition-pruning literal.
    */
  private[graft] def nearestLists(
      cents: Array[Array[Double]], emb: Seq[Float],
      nProbe: Int): Array[Int] =
    if (emb == null) null
    else {
      {
        val n = cents.length
        if (n == 0 || emb.length != cents(0).length) null
        else {
          // Bounded O(n·p) selection under (negdot asc, list_id asc) —
          // NOT a full sort: assignment (p=1) is a pure argmax and the
          // probe path keeps a p-element insertion buffer. The old
          // `Array.range(0,n).sortBy(tuple)` allocated and sorted n
          // boxed tuples PER VECTOR, which at production nLists turned
          // assignment from dot-bound into alloc/sort-bound — 2.1 ms
          // per vector at nLists=1408 vs ~0.1 ms for the dots
          // (IvfScaleProbe, 2M×1408: 13 min → see SCALE.md).
          // Strict `<` on insertion keeps equal-negdot order by the
          // ascending scan index, so ties resolve exactly as the old
          // (negdot, i) sort did — output-identical.
          val e = emb.toArray
          val p = math.min(nProbe, n)
          val bestIdx = new Array[Int](p)
          val bestNeg = new Array[Double](p)
          var filled = 0
          var l = 0
          while (l < n) {
            val c = cents(l)
            var s = 0.0
            var i = 0
            while (i < c.length) { s += e(i) * c(i); i += 1 }
            val neg = -s
            if (filled < p) {
              var pos = filled
              while (pos > 0 && neg < bestNeg(pos - 1)) {
                bestNeg(pos) = bestNeg(pos - 1); bestIdx(pos) = bestIdx(pos - 1)
                pos -= 1
              }
              bestNeg(pos) = neg; bestIdx(pos) = l; filled += 1
            } else if (neg < bestNeg(p - 1)) {
              var pos = p - 1
              while (pos > 0 && neg < bestNeg(pos - 1)) {
                bestNeg(pos) = bestNeg(pos - 1); bestIdx(pos) = bestIdx(pos - 1)
                pos -= 1
              }
              bestNeg(pos) = neg; bestIdx(pos) = l
            }
            l += 1
          }
          if (filled == p) bestIdx else java.util.Arrays.copyOf(bestIdx, filled)
        }
      }
    }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** IVF coarse quantizer: distributed Lloyd's iterations (spherical
    * k-means). Assignment is a codegen'd expression over the corpus;
    * the centroid update is posexplode → groupBy(list, dim) → avg —
    * one shuffle of nLists×dim cells per iteration. Only the k×dim
    * model (a few KB) ever reaches the driver, so the training pass
    * scales to any corpus size. Init = the nLists lowest vec_ids
    * (deterministic).
    */
  def ivfCentroids(
      corpus: DataFrame, dim: Int, nLists: Int, iters: Int = 3): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nLists).collect()
      .map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
      .map(unit)
    val sc = corpus.sparkSession.sparkContext
    for (_ <- 0 until iters) {
      val bc = sc.broadcast(cents)
      val assign = nearestListsUdf(bc, 1)
      // assignment must be projected BELOW the posexplode: expressions
      // in the same select as a generator land in the Project ABOVE
      // Generate and are re-evaluated once per GENERATED row — dim×
      // the assignment work (measured 12.2 s vs 0.8 s per iteration on
      // a 20k×64 corpus, X04Probe)
      val assigned = corpus
        .select(KernelOnce(assign(col("embedding"))).as("lists"),
          col("embedding"))
        .select(element_at(col("lists"), 1).as("list_id"), col("embedding"))
      val mean = assigned
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      bc.unpersist(blocking = false)
      val next = cents.map(_.clone())
      for (r <- mean)
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      cents = next.map(unit) // empty lists keep their previous centroid
    }
    cents
  }

  /** IVF approximate top-k: corpus vectors are assigned to their
    * nearest list once (shuffle on the list key only); each query
    * probes its nProbe nearest lists, computes exact cosine within
    * them, and takes per-query top-k. nProbe = nLists degrades to
    * exact brute force (used as the oracle-checkable configuration);
    * nProbe < nLists is the 100 TB path — per query only
    * nProbe/nLists of the corpus is touched. A standing deployment
    * builds the index once with [[ivfCentroids]] +
    * [[ivfAssignWithModel]] and serves it with
    * [[ivfTopKFromPartitionedIndex]].
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      dim: Int,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3): DataFrame = {
    // one-shot path shares ONE centroid broadcast between assignment
    // and probing (at production nLists×dim the model is MBs — no
    // reason to ship it to every executor twice)
    val cents = ivfCentroids(corpus, dim, nLists, iters)
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    serveAssigned(assignWithBc(corpus, bc), bc, queries, k, nProbe)
  }

  /** Index build: assign every corpus vector to its nearest list under
    * a centroid model from [[ivfCentroids]]. The returned DataFrame
    * (vec_id, embedding, nrm, list_id) is the artifact a standing
    * deployment PERSISTS `partitionBy("list_id")`, together with the
    * (tiny) centroid model; [[ivfTopKFromPartitionedIndex]] then serves
    * from it without paying the corpus-wide assignment pass again, and
    * a probe touching nProbe/nLists of the lists reads only those
    * lists' files. Same persist-once contract as `Dedup.minhashIndex` /
    * `Retrieval.bm25Index`.
    */
  def ivfAssignWithModel(
      corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignWithBc(corpus,
      corpus.sparkSession.sparkContext.broadcast(cents))

  private def assignWithBc(
      corpus: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame = {
    val assign = nearestListsUdf(bc, 1)
    corpus
      .select(col("vec_id"), col("embedding"),
        KernelOnce(assign(col("embedding"))).as("lists"))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        element_at(col("lists"), 1).as("list_id"))
  }

  /** IVF serving from a LIST-PARTITIONED at-rest index directory —
    * the 100 TB artifact layout [[ivfAssignWithModel]] prescribes,
    * made executable: the assignment parquet is written
    * `partitionBy("list_id")`, and a query batch's probe set is
    * resolved DRIVER-SIDE against the centroid model (model-sized —
    * k·dim doubles) and folded into one `list_id IN (…)` literal, so
    * Catalyst partition-prunes the scan at file-listing time: a batch
    * probing p of L lists reads ONLY those p directories. The other
    * L − p lists never even produce a task — an input-bound saving no
    * runtime exchange optimization can reach, and exactly how a
    * standing ANN deployment over a 100 TB corpus serves low-QPS
    * batches without a corpus-wide scan per batch.
    *
    * `queries` is collected to compute the probe union, so it must be
    * batch-sized — enforced loudly (the mmr pool-guard pattern): at
    * most 10,000 queries.
    *
    * Output is row-identical to [[ivfTopK]] with the same model: the
    * per-query probe join below applies each query's OWN probe list;
    * the literal filter is a superset prune.
    */
  def ivfTopKFromPartitionedIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      cents: Array[Array[Double]],
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val maxBatch = 10000
    val qProj = queries.select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    val qRows = qProj.limit(maxBatch + 1).collect()
    require(qRows.length <= maxBatch,
      s"ivfTopKFromPartitionedIndex: query batch exceeds $maxBatch rows — " +
        "partition-pruned serving resolves probes driver-side; for " +
        "corpus-sized query sets use ivfTopK")
    val probedLists = qRows.iterator
      .flatMap(r => Option(nearestLists(cents, r.getSeq[Float](1), nProbe))
        .fold(Iterator.empty: Iterator[Int])(_.iterator))
      .toSet.toSeq.sorted
    val indexed = spark.read.parquet(indexPath)
      .filter(col("list_id").isin(probedLists: _*))
    // Serve the COLLECTED batch, not the input frame (r10 advice): a
    // non-deterministic `queries` (sample/limit/rand) re-evaluated
    // inside serveAssigned could disagree with the batch the probe
    // literal was resolved from, silently dropping neighbors for
    // queries whose lists were pruned. createDataFrame over qRows
    // makes both reads see the same materialized rows.
    val servedBatch = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    serveAssigned(indexed, spark.sparkContext.broadcast(cents),
      servedBatch, k, nProbe)
  }

  private def serveAssigned(
      indexed: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val probe = nearestListsUdf(bc, nProbe)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"),
        norm(col("embedding")).as("qnrm"))
      .withColumn("list_id", explode(probe(col("query_emb"))))
    val joined = indexed
      .join(broadcast(probed), Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePrenormed(dot(col("embedding"), col("query_emb")),
          col("nrm"), col("qnrm")).as("cos"))
    topKPerQuery(joined, "cos", k)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x|/127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].
    * 4× memory reduction for ANN indexes at 100 TB; floor-based
    * rounding (not banker's/half-up) so any engine reproduces the
    * exact codes. All-zero vectors quantize to zeros with scale 0.
    * Adds `q` (array<int>) and `q_scale` (double).
    */
  def quantizeInt8(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val scale = aggregate(
      transform(col(embCol), x => abs(x.cast("double"))),
      lit(0.0), (a, v) => greatest(a, v)) / 127.0
    df.withColumn("q_scale", scale)
      .withColumn("q",
        when(col("q_scale") === 0.0,
          transform(col(embCol), _ => lit(0)))
          .otherwise(transform(col(embCol),
            x => floor(x.cast("double") / col("q_scale") + 0.5).cast("int"))))
  }

  /** Reconstruct doubles from int8 codes: x̂_i = q_i · scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale)

  /** Two-stage ANN first pass: rank candidates by the INTEGER dot
    * product of int8-quantized codes. At 100 TB this is the cheap wide
    * scan — 4× less memory bandwidth than float vectors, SIMD-friendly
    * int accumulation, and the integer arithmetic is exact in any
    * engine so the candidate ranking reproduces bit-for-bit. Follow
    * with exact re-ranking of the survivors (bruteForceTopK/ivfTopK
    * shape) when float-precision scores matter. Ties break on vec_id.
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int): DataFrame = {
    val c = quantizeInt8(corpus).select(col("vec_id"), col("q"))
    val q = quantizeInt8(queries).select(
      col("vec_id").as("query_id"), col("q").as("query_q"))
    val qdot = aggregate(
      zip_with(col("q"), col("query_q"), (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (a, v) => a + v)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), qdot.as("qdot"))
    topKPerQuery(scored, "qdot", k)
  }

  /** Two-stage ANN: int8-quantized integer top-m candidate pass, then
    * exact float cosine re-rank of the survivors to top-k — the
    * standard 100 TB retrieval pattern (cheap wide scan touches every
    * vector's 4×-compressed codes, the expensive exact pass touches
    * only m·|queries| rows). Both stages are deterministic, so the
    * whole composition is oracle-exact.
    */
  def rerankedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int): DataFrame = {
    val cand = quantizedTopK(corpus, queries, m).select("query_id", "vec_id")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_emb"), norm(col("embedding")).as("qnrm"))
    val scored = cand
      .join(corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm")), "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosinePrenormed(dot(col("embedding"), col("query_emb")),
          col("nrm"), col("qnrm")).as("cos"))
    topKPerQuery(scored, "cos", k)
  }

  /** Exact near-duplicate pairs within a blocking key (e.g. a cluster
    * or label column): deterministic, oracle-checkable, and the same
    * shape the LSH variant produces.
    */
  def blockedNearDupPairs(
      corpus: DataFrame,
      blockCol: String,
      threshold: Double): DataFrame = {
    val normed = corpus.select(col(blockCol).as("blk"), col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val left = normed.select(col("blk"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val right = normed.select(col("blk"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    left
      .join(right, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosinePrenormed(dot(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
