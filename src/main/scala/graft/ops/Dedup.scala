package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import Lineage.TruncateOps

/** Document deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is shuffle-bounded — exact dedup is one
  * hash-partitioned aggregation; MinHash/SimHash near-dup generate
  * candidates through BAND BUCKETS (shuffle on the band key, pairs only
  * within a bucket) and never compare all pairs. At 100 TB the bucket
  * verify is the only quadratic-risk step: from the MinHash size gate
  * on, a bucket over the cap is triangle-split into sub-group tasks
  * of ~cap² pairs each, every pair still verified exactly once.
  */
object Dedup {

  /** 60-bit hash from the md5 prefix — the cross-engine-exact hash
    * family: any engine that agrees on md5 hex (Spark, DuckDB, ...)
    * reproduces it bit-for-bit, so operators built on it get exact
    * external oracles. 15 hex chars = 60 bits keeps the value inside
    * a signed 64-bit range on both sides.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Full 128-bit md5 as a 16-byte BINARY — for INTERNAL exchange keys
    * whose cardinality is the corpus itself (r15, verdict r14 #3): the
    * 60-bit prefix's birthday bound (~2^30 distinct keys) is under the
    * distinct-line count a 100 TB corpus can reach, and a collision on
    * a dedup key silently deletes a non-duplicate line. 16 bytes is
    * still ~20× narrower than the line text it stands for, and the
    * full width is birthday-safe to ~2^64 keys. Operators whose
    * DECLARED semantics are the 60-bit family (decontamination
    * fingerprints, sampling buckets — both re-derived by external
    * oracles) keep [[md5Hash60]].
    */
  def md5Key128(c: Column): Column = unhex(md5(c))

  /** Exact dedup by content hash: one representative (min id) per
    * distinct text, with duplicate count.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_dups"))

  /** Below this many (directed, deduplicated) edges the component
    * computation runs as a driver-local union-find instead of the
    * iterative join loop: a graph this size is ≤ ~64 MB of longs, and
    * each distributed round costs several fixed-latency shuffle jobs
    * that dwarf the actual work. Same adaptive philosophy as the
    * broadcast-join size gate — at 100 TB the candidate-pair graph
    * blows past the gate and the O(log d) distributed loop runs.
    */
  val LocalCcMaxEdges: Long = 4000000L

  /** Connected components over an undirected near-dup pair list —
    * the cluster-formation step between candidate pairs and canonical
    * document selection. Iterative distributed min-label propagation
    * with path-halving: each round a node adopts
    * min(own label, neighbors' labels, label-of-own-label), so chains
    * converge in O(log diameter) rounds instead of O(diameter).
    * Each round is two joins + one aggregation, fully partitioned —
    * no driver-side graph; the driver only sees the changed-count.
    * Output: (id, component) with component = min id in the component.
    * NOTE: the returned DataFrame is persisted (it is the last
    * iteration's cache) — callers owning a long-lived session should
    * unpersist() it when done. `edges` is persisted for the loop's
    * lifetime (every round references it; without the cache each round
    * would replay the entire upstream candidate-pair pipeline), and
    * each round's labels are truncated ([[Lineage.truncate]] — eager
    * localCheckpoint locally; reliable `checkpoint` when
    * `spark.graft.checkpoint.dir` is set, the executor-loss-safe
    * cluster mode) so the logical plan stays O(1) across iterations
    * instead of nesting one join tree per round.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      localMaxEdges: Long = LocalCcMaxEdges): DataFrame = {
    // Pre-partition the static edge table on the per-round join key
    // (dst) at a pinned count before caching: the distinct()'s
    // hash(src,dst) at-rest partitioning does not satisfy the
    // neighbor join's hash(dst), so every round re-exchanged the
    // EDGE list — the largest relation — where only the id-sized
    // label moves need to (the GraphRank r14 finding; persist, not
    // checkpoint, because under AQE a checkpoint's LogicalRDD reports
    // Unknown partitioning and the pin would be erased, and a cached
    // static frame keeps its lineage for executor-loss recompute).
    val nParts =
      try pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: Throwable =>
        pairs.sparkSession.sparkContext.defaultParallelism }
    // repartition BEFORE the dedup (r14, the GraphRank one-exchange
    // preamble): hash(dst) clusters equal (src, dst) rows, so the
    // dedup aggregate runs exchange-free on top of the single pinned
    // exchange instead of paying distinct's hash(src,dst) exchange
    // first and the dst repartition second.
    val edges = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionAll(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .repartition(nParts, col("dst"))
      .dropDuplicates("src", "dst")
      .persist()
    try {
      val edgeCount = edges.count() // materializes the persist either way
      if (edgeCount <= localMaxEdges) return localComponents(edges)
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        // min label among neighbors
        val viaNeighbor = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
        // label of own label (path halving)
        val parentLabels = labels.select(col("id").as("label"), col("label").as("pl"))
        val viaParent = labels.join(parentLabels, Seq("label"))
          .select(col("id"), col("pl"))
        // Eager localCheckpoint materializes the round (truncated plan
        // AND truncated RDD lineage; old rounds' blocks reclaimed by
        // the ContextCleaner) — but checkpoint REWRITES the old plan's
        // statistics onto the new LogicalRDD, and join sizeInBytes
        // estimates roughly SQUARE each round: by ~iteration 13 the
        // stat is a BigInt with ~100k digits and the driver spends
        // minutes inside BigInteger.multiply during planning (observed
        // live at sf0.1's ~5000-node chain). Rebuilding the DataFrame
        // from the checkpointed RDD resets stats to the default
        // estimate, severing the exponential growth; the Row serde it
        // costs is per-round over the narrow (id, label) table only.
        // The previous label rides along in the checkpointed frame so
        // the convergence check is a plain scan of already-materialized
        // rows — not (as before) a per-round join of the new labels
        // back to the old ones, which cost one extra shuffle job every
        // iteration (~0.2-0.4s of fixed latency each on small inputs).
        val ck = labels
          .join(viaNeighbor, Seq("id"), "left")
          .join(viaParent, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nmin"), col("label")),
              coalesce(col("pl"), col("label"))).as("label"),
            col("label").as("prev"))
          .truncateLineage()
        val next = ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
        val changed = next.filter(col("label") =!= col("prev")).limit(1).count()
        labels = next.select(col("id"), col("label"))
        converged = changed == 0
        it += 1
      }
      // Partially-propagated labels are silently wrong — refuse to hand
      // them back. Path-halving converges in O(log diameter) rounds, so
      // hitting this means the iteration budget is genuinely too small.
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters iterations; " +
          "raise maxIters (rounds needed grow with log of the graph diameter)")
      labels.select(col("id"), col("label").as("component"))
    } finally edges.unpersist(blocking = false)
  }

  /** Driver-local union-find (path compression + union by rank) for
    * graphs under [[LocalCcMaxEdges]]; component label = min node id,
    * identical to the distributed loop's output.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val idx = new java.util.HashMap[Long, Int]()
    for ((a, b) <- pairs) {
      if (!idx.containsKey(a)) idx.put(a, idx.size)
      if (!idx.containsKey(b)) idx.put(b, idx.size)
    }
    val n = idx.size
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    for ((a, b) <- pairs) {
      val ra = find(idx.get(a)); val rb = find(idx.get(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    val ids = new Array[Long](n)
    idx.forEach((id, i) => ids(i) = id)
    val minOfRoot = new java.util.HashMap[Int, Long]()
    var i = 0
    while (i < n) {
      val r = find(i)
      if (!minOfRoot.containsKey(r) || ids(i) < minOfRoot.get(r)) minOfRoot.put(r, ids(i))
      i += 1
    }
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(ids(i), minOfRoot.get(find(i))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, n / 100000)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Character n-gram shingle array (distinct) — a pure column
    * expression so Catalyst keeps it in codegen.
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(0))),
      i => text.substr(i, lit(n))))

  private val ngramJaccardUdf = udf(
    (a: String, b: String, n: Int) =>
      if (a == null || b == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(graft.kernel.TextKernel.ngramJaccard(a, b, n)))

  /** Exact n-gram Jaccard similarity between two text columns.
    *
    * Kernel UDF, not column expressions: the higher-order-function
    * shingle construction (transform over sequence) is INTERPRETED by
    * Catalyst, ~7 µs per element — at 500-char docs that was ~2 ms per
    * pair vs ~30 µs for the single-pass hash-set kernel (measured via
    * L18Probe methodology; l02 10.9 s → 0.6 s at sf0.1). Values
    * are bit-identical (code-point windows, integer counts, one double
    * division), so the DuckDB re-derivation oracles stay green.
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    ngramJaccardUdf(a, b, lit(n))

  /** Band-bucket candidate pairs for [[simhashPairs]], payload-free
    * by construction: the self-join on (band, key) moves only
    * (band, key, id) triples, so the shuffle never carries the
    * payload (a payload-on-both-sides shape writes every document
    * ~2×bands times). Distinct (id_a, id_b) pairs (id_a < id_b, each
    * pair verified once however many bands it collides in) are then
    * joined back to `payloads` (id, payloadCol) per side — two narrow
    * hash joins on id — for the exact verification step. The pair
    * join suits simhash's 8-byte payload; MinHash's shingle arrays
    * are verified bucket-locally instead (see [[minhashPairs]]).
    */
  private def bandedCandidatePairs(
      banded: DataFrame, keyCol: String,
      payloads: DataFrame, payloadCol: String): DataFrame = {
    val keys = banded.select(col("band"), col(keyCol), col("id"))
    val pairs = keys.select(col("band"), col(keyCol), col("id").as("id_a"))
      .join(keys.select(col("band"), col(keyCol), col("id").as("id_b")),
        Seq("band", keyCol))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(payloads.select(col("id").as("id_a"),
        col(payloadCol).as(s"${payloadCol}_a")), "id_a")
      .join(payloads.select(col("id").as("id_b"),
        col(payloadCol).as(s"${payloadCol}_b")), "id_b")
  }

  /** Input size (optimizer estimate) from which [[minhashPairs]] runs
    * its two-pass bucket prune and both MinHash operators split
    * degenerate buckets. Below it the extra pass costs more than it
    * saves: on the 2,700-doc corpus_curation input (4 vCPUs, 3 runs)
    * forcing the gate on took minhashPairs from 2.1–2.5 s to 4.1–4.5 s
    * and minhashNewVsPrebuiltIndex (half the docs as index) from
    * 2.4–2.8 s to 3.8–4.0 s, with identical output.
    */
  private val LshPruneMinBytes: Long = 256L << 20

  /** Bucket size above which the MinHash verify splits a bucket into
    * sub-group tasks (see [[bucketTasks]]); ~cap² pairs per task. */
  private val LshBucketCap: Int = 2048

  /** Spark's `hash(slice(sig, b * r + 1, r), b)` for every band b of a
    * `bands`-way split of `sig` (r = sig.length / bands): Murmur3 with
    * seed 42 folded over the band's signature slice, then over b. The
    * keys are bit-identical to that Catalyst expression (LlmOpsSpec
    * pins it), so an index persisted by either form stays valid.
    */
  private def bandKeys(sig: Array[Long], bands: Int): Array[Int] = {
    val rows = sig.length / bands
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var h = 42
      var k = b * rows
      while (k < (b + 1) * rows) { h = Murmur3_x86_32.hashLong(sig(k), h); k += 1 }
      out(b) = Murmur3_x86_32.hashInt(b, h)
      b += 1
    }
    out
  }

  /** The MinHash LSH kernel, one call per document and one shingling
    * pass: (band keys, sorted distinct 32-bit-compacted shingle
    * hashes). The band keys feed the bucket shuffle, the compact array
    * feeds the merge-intersect Jaccard verify with half the shuffle
    * bytes of the 64-bit form. Named so plan tests can count it.
    */
  private val bandsAndSetUdf = udf(
    (text: String, shingleN: Int, numHashes: Int, bands: Int) => {
      val shs = TextKernel.sortedShingleHashes(text, shingleN)
      (bandKeys(TextKernel.minhashSignature(shs, numHashes), bands),
        TextKernel.compactHashes32(shs))
    }).withName("minhash_bands")

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle → minhash signature (numHashes) → band buckets (bands ×
    * numHashes/bands rows) → within-bucket exact Jaccard verify ≥
    * threshold. Output: (id_a, id_b, jaccard) with id_a < id_b,
    * distinct. Docs shorter than shingleN are excluded (no shingles),
    * which also prevents the degenerate all-empty-signature
    * mega-bucket. Both passes band through [[minhashIndex]] +
    * [[explodeBanded]], the same transform the persisted-index path
    * runs, and verify through [[verifyBuckets]], the same loop
    * [[minhashNewVsPrebuiltIndex]] runs (every row on side 0).
    *
    * Scale shape — BUCKET-LOCAL verification, no pair join: each
    * document's sorted shingle-hash array (32-bit compacted, ~4
    * bytes/shingle — TextKernel.compactHashes32) moves through ONE
    * shuffle keyed by (band, band_hash) — O(corpus × bands) bytes —
    * and candidate pairs are verified inside each sorted bucket group
    * with an allocation-free merge intersect
    * (~2 µs/pair; re-shingling text per pair measured ~1 ms/pair). The
    * previous shape joined distinct candidate pairs back to per-doc
    * payloads, which moves O(pairs × set) bytes: fine when pairs/doc
    * is small, but a near-dup-dense corpus (the realistic dedup
    * input) has pairs/doc ≫ bands — at 500k docs / 24M candidates
    * that join shuffled ~110 GB and filled the disk where this shape
    * moves ~19 GB (PairCountProbe). A pair colliding in k bands
    * is verified k times (measured 2.5% overhead) and deduped by the
    * final max-aggregate.
    *
    * From 256 MB of input an id-only first pass prunes to ≥2-member
    * buckets before any hash array moves, and its bucket counts drive
    * the degenerate-bucket split — see the inline comment at the gate.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    minhashPairsGated(docs, idCol, textCol, shingleN, numHashes, bands,
      threshold, LshPruneMinBytes, LshBucketCap)

  /** [[minhashPairs]] with its prune gate and bucket cap as arguments. */
  private[ops] def minhashPairsGated(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double, pruneMinBytes: Long, bucketCap: Int): DataFrame = {
    val banded = explodeBanded(
      minhashIndex(docs, idCol, textCol, shingleN, numHashes, bands))
    // Two-pass bucket pruning for large corpora: only buckets with ≥2
    // members can emit pairs, and on a lightly-duplicated corpus that
    // is a small fraction of all (band, band_hash) keys. Pass 1
    // shuffles IDS ONLY (~16 B/row, corpus × bands) to find surviving
    // buckets AND surviving doc ids; pass 2 re-shingles the surviving
    // docs only (CPU is cheap, O(survivors); the alternative —
    // persisting the arrays — IS the write we're avoiding) and moves
    // the ~4 B/shingle hash arrays only for docs that sit in ≥2-member
    // buckets, so the array shuffle is proportional to the corpus's
    // DUPLICATE density, never its size. At the derived sf100 (5M
    // docs) the single-pass array shuffle is ~320 GB and disk-kills;
    // the id pass is ~1.3 GB. Below the size gate the extra stages
    // cost more than they save, so small inputs keep the one-shuffle
    // shape (identical output either way). The same pass's bucket
    // counts feed the degenerate-bucket split (one exchange, two
    // consumers); below the gate that pass would be a fresh
    // re-shingling cost, and a small input cannot hold a cap-sized
    // bucket worth splitting anyway.
    val tasks =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes < pruneMinBytes)
        bucketTasks(banded.withColumn("side", lit(0)), None, bucketCap)
      else {
        // Pass 1 moves (band, band_hash, id) ONLY — project the array
        // column away BEFORE any wide operator. The first cut of this
        // gate joined `banded` (WITH the shs arrays) to the surviving
        // keys; whenever the surviving-key side outgrew the AQE
        // broadcast threshold (~10 MB ≈ 600k buckets) that join
        // planned as a shuffle and the arrays — ~16× the corpus text
        // bytes — moved in full, which is exactly the write this gate
        // exists to avoid (caught by the r13 5M-doc stress probe:
        // >55 GB of shuffle on a 1.2 GB corpus). Now pass 1 is
        // id-sized end-to-end, surviving DOC ids come back via a
        // semi join (AQE broadcasts them when small; above that the
        // fallback shuffle moves 1× corpus text, still 16× less than
        // arrays — and zero when the corpus is stored bucketed by id),
        // and pass 2 re-shingles only the surviving docs.
        val idRows = banded.select(col("band"), col("band_hash"), col("id"))
        val counts = idRows
          .groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("n"))
        val surviving = counts.filter(col("n") > 1)
          .select(col("band"), col("band_hash"))
        val survivorIds = idRows.join(surviving, Seq("band", "band_hash"))
          .select(col("id")).distinct()
        val survivorDocs = docs
          .select(col(idCol).as("id"), col(textCol).as("text"))
          .join(survivorIds, Seq("id"), "leftsemi")
        bucketTasks(
          explodeBanded(
              minhashIndex(survivorDocs, "id", "text", shingleN, numHashes, bands))
            .join(surviving, Seq("band", "band_hash"))
            .withColumn("side", lit(0)),
          Some(counts), bucketCap)
      }
    verifyBuckets(tasks, threshold, crossSideOnly = false)
  }

  /** Canonical-document selection over near-dup clusters — the
    * decision step real pipelines run AFTER [[connectedComponents]]:
    * keep the highest-QUALITY member of each cluster (longest /
    * best-scored — RefinedWeb keeps the longest document, SemDeDup
    * the lowest-perplexity one), not the smallest id. Ties on the
    * score resolve to the smallest id, so the decision is
    * deterministic. Documents in no cluster are their own canonical.
    * Output, one row per surviving document:
    * (component, n_members, keep_id, best_score).
    *
    * Scale shape: one model-sized join of the cluster table to the
    * per-doc scores, one hash aggregate per component, and an
    * anti-join for the singleton side — all hash-partitioned, no
    * windows, no collects.
    */
  def keepBest(docs: DataFrame, components: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val scored = components.join(
      docs.select(col(idCol).as("id"), col(scoreCol).as("score")), "id")
    val best = scored.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("id"), struct(col("score"), (-col("id")).as("neg")))
          .as("keep_id"),
        max(col("score")).as("best_score"))
      .select("component", "n_members", "keep_id", "best_score")
    val singles = docs
      .select(col(idCol).as("keep_id"), col(scoreCol).as("best_score"))
      .join(components.select(col("id").as("keep_id")), Seq("keep_id"),
        "left_anti")
      .select(col("keep_id").as("component"), lit(1L).as("n_members"),
        col("keep_id"), col("best_score"))
    best.unionByName(singles)
  }

  /** Leakage-free train/eval split: assign documents to splits by the
    * md5 bucket of their near-dup CLUSTER representative, not their
    * own id — so a document and its near-duplicates can never land on
    * opposite sides of the split (the train/test contamination that
    * inflates eval numbers). Documents in no cluster hash on their
    * own id; `trainPerMille` of the 1000-bucket space goes to train.
    * Output: (id, component, split ∈ {"train", "eval"}).
    *
    * Scale shape: one left join of the corpus to the cluster table
    * (cluster table ≪ corpus — only docs with a near-dup appear),
    * then a map-side hash bucket. Composes with
    * [[connectedComponents]] upstream and any writer downstream.
    */
  def leakageFreeSplit(docs: DataFrame, components: DataFrame,
      idCol: String, trainPerMille: Int): DataFrame = {
    require(trainPerMille >= 0 && trainPerMille <= 1000,
      "trainPerMille must be in [0, 1000]")
    docs.select(col(idCol).as("id"))
      .join(components, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .withColumn("split",
        when(Sampling.hashBucket(col("component").cast("string")) % 1000
          < trainPerMille, "train").otherwise("eval"))
  }

  /** The persisted-index form — ONE compact row per document:
    * (id, shs — the sorted shingle-hash set the verify step needs,
    * band_hashes — the `bands` precomputed band keys). This is what
    * an ingest pipeline computes ONCE per corpus generation and
    * writes to parquet; every arriving shard then pays only its own
    * shingling. The first cut persisted the EXPLODED
    * (id, band, band_hash, shs) form and replicated the shingle array
    * per band — a 32× storage amplification (3.7 GB index for a
    * 117 MB corpus at the 500k probe; the aborted 5M build was headed
    * past 50 GB). The compact form is corpus-sized; the explode is
    * re-derived at read time, map-only, and only materializes in the
    * post-prune shuffle.
    */
  def minhashIndex(
      indexDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    indexDocs
      .filter(length(col(textCol)) >= shingleN)
      .select(col(idCol).as("id"), KernelOnce(bandsAndSetUdf(col(textCol),
        lit(shingleN), lit(numHashes), lit(bands))).as("k"))
      .select(col("id"), col("k._2").as("shs"), col("k._1").as("band_hashes"))
  }

  /** Compact index rows → the exploded (band, band_hash, then every
    * other column) stream the bucket verify consumes. The outer
    * explode emits the same rows (`band_hashes` is never empty) and,
    * unlike the inner one, makes the optimizer infer no
    * `size(band_hashes) > 0` filter, which no row needs.
    */
  private[ops] def explodeBanded(compact: DataFrame): DataFrame = {
    val rest = compact.columns.filter(_ != "band_hashes").map(col)
    compact.select(rest :+ posexplode_outer(col("band_hashes")): _*)
      .select((col("pos").as("band") +: col("col").as("band_hash") +: rest): _*)
  }

  /** Incremental dedup of a NEW shard against an INDEXED corpus — the
    * ingest-time operation at 100 TB, where re-running all-pairs LSH
    * over the full corpus per arriving shard is not an option.
    * `index` is [[minhashIndex]] output, computed once per corpus
    * generation and persisted (possibly read back from parquet); the
    * shard side runs through the same [[minhashIndex]], so both sides'
    * kernel is identical. Both sides flow tagged (index 0, shard 1)
    * through the [[minhashPairs]] bucket pipeline — ONE
    * (band, band_hash)-keyed shuffle, pairs verified bucket-locally
    * over the compact 32-bit shingle-hash arrays — the x03 lesson (a
    * pair-join verify moved ~110 GB at sf10): shuffle is
    * O((shard + index) × bands), and only CROSS-side pairs are
    * verified, so a shard arriving into a huge already-deduped index
    * never re-verifies index-internal pairs.
    * Output, per new doc with ≥1 verified match:
    * (new_id, n_matches, best_jaccard, best_match_id) — ties on
    * jaccard resolve to the smallest matched id, so the decision is
    * deterministic.
    */
  def minhashNewVsPrebuiltIndex(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    minhashNewVsIndexGated(newDocs, index, idCol, textCol, shingleN,
      numHashes, bands, threshold, LshPruneMinBytes, LshBucketCap)

  /** [[minhashNewVsPrebuiltIndex]] with its gate and cap as arguments. */
  private[ops] def minhashNewVsIndexGated(newDocs: DataFrame,
      index: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int, threshold: Double, pruneMinBytes: Long,
      bucketCap: Int): DataFrame = {
    val newBanded = explodeBanded(
      minhashIndex(newDocs, idCol, textCol, shingleN, numHashes, bands))
    // only index buckets the SHARD touches can emit cross-side pairs,
    // and with index ≫ shard (the design case) that is a small
    // fraction (87% of buckets untouched at the 500k probe): a semi
    // join on the shard's distinct band keys keeps the index side's
    // shingle-array payload out of the shuffle for every untouched
    // bucket. The key set is shard×bands rows — bigger than the 10 MB
    // auto-broadcast default at even modest shards, which silently
    // degraded the semi join to a full index SMJ shuffle (measured
    // 46.8 → 68.4 s at 500k); under the same size gate, force the
    // broadcast so the prune is map-side.
    val touchedRaw = newBanded.select(col("band"), col("band_hash")).distinct()
    val touched =
      if (newDocs.queryExecution.optimizedPlan.stats.sizeInBytes < LshPruneMinBytes)
        broadcast(touchedRaw)
      else touchedRaw
    val indexBanded = explodeBanded(index)
      .join(touched, Seq("band", "band_hash"), "left_semi")
    val rows = indexBanded
      .select(col("band"), col("band_hash"), col("id"), lit(0).as("side"), col("shs"))
      .unionByName(newBanded
        .select(col("band"), col("band_hash"), col("id"), lit(1).as("side"), col("shs")))
    // Bucket counts for the degenerate-bucket split (X08Diag found a
    // 3,622-member bucket in synthetic data) come from a keys-only
    // pass: column pruning reads band_hashes alone from a
    // parquet-backed index, so no shingle arrays move. Below the gate
    // small inputs skip that extra aggregate (identical output).
    val counts =
      if (index.queryExecution.optimizedPlan.stats.sizeInBytes < pruneMinBytes) None
      else Some(indexBanded.select(col("band"), col("band_hash"))
        .unionByName(newBanded.select(col("band"), col("band_hash")))
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n")))
    val pairs = verifyBuckets(bucketTasks(rows, counts, bucketCap), threshold,
      crossSideOnly = true)
    // single-aggregate argmax: (jaccard, -matched_id) struct ordering
    // = max jaccard, ties to the smallest matched id
    pairs.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_jaccard"),
        max_by(col("id_b"), struct(col("jaccard"), (-col("id_b")).as("neg")))
          .as("best_match_id"))
  }

  /** Verify tasks over banded rows (band, band_hash, id, side, shs):
    * (band, band_hash, ti, tj, id, side, sub, shs), one task per
    * (band, band_hash, ti, tj). Without `counts` every bucket is one
    * task (ti = tj = sub = 0).
    *
    * With the per-bucket member counts (band, band_hash, n), buckets
    * over `cap` members get the degenerate-bucket triangle split
    * (EXACT — every pair still verified exactly once): a bucket of m
    * members costs O(m²) in ONE task, so it splits into
    * g = ceil(m/cap) sub-groups by (id, side) hash and each row is
    * replicated to the g task-pairs containing its sub-group — task
    * (i, j) verifies within-group pairs when i == j and cross-group
    * pairs when i < j, so per-task work is bounded by ~cap² and a
    * 100k-member pathological bucket spreads over ~g²/2 tasks instead
    * of stalling one. Normal buckets take g = 1: task (0, 0).
    */
  private def bucketTasks(rows: DataFrame, counts: Option[DataFrame],
      cap: Int): DataFrame = counts match {
    case None =>
      rows.select(col("band"), col("band_hash"), lit(0).as("ti"), lit(0).as("tj"),
        col("id"), col("side"), lit(0).as("sub"), col("shs"))
    case Some(n) =>
      val bigBuckets = n.filter(col("n") > cap)
        .select(col("band"), col("band_hash"),
          ceil(col("n").cast("double") / cap).cast("int").as("g"))
      rows.join(broadcast(bigBuckets), Seq("band", "band_hash"), "left")
        .withColumn("g", coalesce(col("g"), lit(1)))
        .withColumn("sub", pmod(hash(col("id"), col("side")), col("g")))
        .select(col("band"), col("band_hash"), col("id"), col("side"),
          col("shs"), col("sub"), explode(sequence(lit(0), col("g") - 1)).as("t"))
        .select(col("band"), col("band_hash"),
          least(col("sub"), col("t")).as("ti"),
          greatest(col("sub"), col("t")).as("tj"),
          col("id"), col("side"), col("sub"), col("shs"))
  }

  /** The one MinHash verify loop: shuffle [[bucketTasks]] rows by task,
    * stream each sorted task group and merge-intersect its pairs —
    * cross-group pairs only off the diagonal (ti != tj), cross-side
    * pairs only when `crossSideOnly`. Output (id_a, id_b, jaccard),
    * distinct, the max over the bands a pair collides in: id_a < id_b,
    * or with `crossSideOnly` id_a the side-1 (new) id and id_b the
    * side-0 (matched) one.
    */
  private def verifyBuckets(tasks: DataFrame, threshold: Double,
      crossSideOnly: Boolean): DataFrame = {
    val spark = tasks.sparkSession
    import spark.implicits._
    tasks.as[(Int, Int, Int, Int, Long, Int, Int, Array[Int])]
      .repartition(col("band"), col("band_hash"), col("ti"), col("tj"))
      .sortWithinPartitions(col("band"), col("band_hash"), col("ti"), col("tj"))
      .mapPartitions { iter =>
        val members = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Array[Int])]
        var curBand = Int.MinValue
        var curHash = Int.MinValue
        var curTi = Int.MinValue
        var curTj = Int.MinValue
        def flush(): Iterator[(Long, Long, Double)] = {
          val diagonal = curTi == curTj
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < members.length) {
            val (ia, sideA, subA, sa) = members(i)
            var j = i + 1
            while (j < members.length) {
              val (ib, sideB, subB, sb) = members(j)
              if ((!crossSideOnly || sideA != sideB) && (diagonal || subA != subB)) {
                val jac = TextKernel.jaccardSortedInt(sa, sb)
                if (jac >= threshold) out +=
                  (if (!crossSideOnly) (math.min(ia, ib), math.max(ia, ib), jac)
                   else if (sideA == 1) (ia, ib, jac)
                   else (ib, ia, jac))
              }
              j += 1
            }
            i += 1
          }
          members.clear()
          out.iterator
        }
        (iter.map(Some(_)) ++ Iterator(None)).flatMap {
          case Some((band, bandHash, ti, tj, id, side, sub, shs)) =>
            val emitted =
              if (band != curBand || bandHash != curHash || ti != curTi || tj != curTj) {
                val done = flush()
                curBand = band; curHash = bandHash; curTi = ti; curTj = tj
                done
              } else Iterator.empty
            members += ((id, side, sub, shs))
            emitted
          case None => flush()
        }
      }
      .toDF("id_a", "id_b", "jaccard")
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("jaccard")).as("jaccard"))
  }

  /** SimHash near-duplicate pairs on the md5 hash family: a 60-bit
    * simhash whose bit j is the majority vote of bit j of md5(token)
    * over all tokens (with multiplicity), banded as 5×12-bit buckets
    * (pigeonhole: any pair within Hamming distance ≤ 4 shares a band),
    * verified by the exact Hamming distance. Bit j is read from a
    * single hex digit of the md5, so no arithmetic ever exceeds
    * small-integer range and an external engine reproduces every
    * candidate bit-for-bit.
    * Output: (id_a, id_b, hamming).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val nBits = 60
    val bandBits = 12
    val nBands = nBits / bandBits
    // Kernel signature, not the interpreted HOF formulation (which
    // evaluated 60 conv-extractions per token at ~7 µs each and ran
    // ≥16 min single-threaded on a one-row-group sf0.1 scan): same
    // md5-hex bit math byte-for-byte — TextKernel.md5Simhash60 — so
    // every candidate and every hamming value is unchanged and the
    // DuckDB oracle still re-derives them exactly. The signature is
    // one LONG instead of a 60-element array, so banding is codegen'd
    // shift/mask and the verify payload is 8 bytes/doc.
    val sigUdf = udf((t: String) => graft.kernel.TextKernel.md5Simhash60(t))
    val sigs = docs.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sim"))
    val banded = sigs.select(col("id"), col("sim"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("sim"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_bits")
    bandedCandidatePairs(banded, "band_bits", sigs.select("id", "sim"), "sim")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  private val winnowUdf = udf((text: String, k: Int, w: Int) =>
    TextKernel.winnowFingerprints(text, k, w))

  /** Winnowing fingerprint set per document (MOSS scheme). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      winnowUdf(col(textCol), lit(k), lit(w)).as("fingerprints"))

  /** Winnowing fingerprint COUNT on the md5 hash family — oracle-exact
    * twin of [[fingerprints]]: k-gram md5-60 hashes, per-window-of-w
    * minima, distinct count. The winnowing kernel's rightmost-on-ties
    * position rule doesn't affect the distinct VALUE set, so the count
    * is tie-rule independent. Short-text cases: < k chars → 0; ≤ w
    * grams → one window over all grams.
    *
    * Runs as TextKernel.winnowMd5FingerprintCount, spec-pinned
    * bit-for-bit against the original column formulation (nested
    * transform/array_min/slice over md5Hash60 of substr windows) —
    * which Catalyst INTERPRETS, and whose inlined `grams` subtree was
    * re-evaluated per window: O(len × w) interpreted substr+md5 evals
    * per document, the last ~17-minute single-core straggler in the
    * sf0.1 sweep.
    */
  def winnowFingerprintCountExact(text: Column, k: Int, w: Int): Column = {
    val u = udf((t: String) =>
      graft.kernel.TextKernel.winnowMd5FingerprintCount(t, k, w))
    u(text)
  }

  /** MOSS-style winnowing document-similarity pairs (Schleimer et al.
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting"):
    * each document reduces to its winnowed fingerprint SET (distinct
    * per-window k-gram md5 minima — TextKernel.winnowMd5Fingerprints);
    * a pair is reported when the two sets share ≥ `minShared`
    * fingerprints, i.e. share that many guaranteed-detected substrings
    * of length ≥ k + w − 1. The code-reuse / template-detection
    * complement to the shingle-Jaccard families: winnowing localizes
    * MATCHED REGIONS, so it catches partial containment (a paragraph
    * lifted into an otherwise-unrelated doc) that whole-doc Jaccard
    * dilutes below threshold.
    *
    * Scale shape: the fingerprint exchange carries (doc_id, fp) keys
    * only — text never shuffles; fingerprints whose document frequency
    * exceeds `maxDf` are dropped BEFORE the pair join (standard MOSS
    * practice — boilerplate shared by everything carries no signal),
    * which bounds every fp bucket's pair fan-out at maxDf², so no
    * degenerate fingerprint can produce a quadratic task (the LSH
    * hot-bucket lesson enforced by construction rather than by a
    * split).
    *
    * Sizing (r10 verdict #4 — the 5M-doc WinnowScaleProbe run used to
    * need a manual WINNOW_PARTS=256 env or it OOM'd at the session's
    * 32 shuffle partitions): the fingerprint exchange is now
    * AUTO-SIZED from Catalyst's size estimate of the input — winnow
    * density is 2/(w+1) fingerprints per character (the published
    * expected density of the scheme), so estimated exchange rows ≈
    * input bytes × 2/(w+1); partitions = ceil(rows / 2M), clamped to
    * [session shuffle partitions, 4096]. 2M rows/partition keeps a
    * partition's in-flight share of the (id, fp) exchange well under
    * an executor-heap share even with 32 concurrent tasks (the 5M-doc
    * probe: 32 partitions = 13M rows each OOM'd an 8 GB heap; 256 =
    * 1.7M each ran). On a cluster the same estimate is what you'd
    * hand AQE as initialPartitionNum; computing it here makes the
    * default safe instead of tunable.
    *
    * Grams hash with md5Hash60, the engine-neutral family the l81
    * registration's DuckDB SQL re-derives: the selected window minima
    * depend on the hash family, so the oracle needs this one.
    *
    * The fingerprint set is localCheckpointed: it feeds the df
    * aggregate and BOTH sides of the pair self-join, and the per-gram
    * digest UDF is the dominant map cost — relying on Catalyst
    * exchange reuse to dedup the three scans is plan-shape-fragile,
    * so the keys-only (id, fp) set is materialized exactly once
    * (LlmOpsSpec pins the single evaluation with a UDF call counter).
    *
    * Returns (id_a, id_b, n_shared), id_a < id_b.
    */
  def winnowSimilarityPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 8): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      "minShared >= 1 and maxDf >= 2 (a pair needs two sharers)")
    val fpUdf = udf((t: String) =>
      graft.kernel.TextKernel.winnowMd5Fingerprints(t, k, w))
    val spark = docs.sparkSession
    val sessionParts =
      spark.conf.getOption("spark.sql.shuffle.partitions")
        .flatMap(v => scala.util.Try(v.toInt).toOption)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // Catalyst's sizeInBytes for a file scan is the on-disk size —
    // an UNDERestimate of decoded characters (parquet text compresses
    // ~2×), so the derived partition count errs low by the same
    // factor; the 2M-row target has ≥4× headroom against the measured
    // OOM bound, which dominates that error.
    val estBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val estRows = estBytes.toDouble * 2.0 / (w + 1).toDouble
    val parts = math.min(4096,
      math.max(sessionParts, math.ceil(estRows / 2e6).toInt))
    val fps = docs.select(col(idCol).cast("long").as("id"),
        explode(fpUdf(col(textCol))).as("fp"))
      .repartition(parts, col("fp"))
      // persist(), NOT eager localCheckpoint (r14): the three
      // consumers (df aggregate + both pair-join sides) each re-read
      // this frame, and checkpoint blocks are RAW row batches — x17
      // measured 2.4 GB of block reads per run, vs 334 MB from the
      // columnar-compressed InMemoryRelation (shuffle shape identical
      // either way: one 214 MB fp exchange, then the joins and the
      // pair aggregate ride the cached hash(fp) partitioning and emit
      // 4.7 MB, per-stage measured). persist also keeps lineage, so
      // lost blocks recompute on a real cluster instead of failing
      // the job — the GraphRank static-frame rule. Single-evaluation
      // contract unchanged (LlmOpsSpec's UDF call counter pins
      // calls == docs either way).
      // LIFECYCLE (ADVICE r14): the result is returned lazily, so this
      // entry cannot be unpersisted here — it stays in the cache
      // manager until evicted (LRU) or the session ends. Long-lived
      // sessions calling this repeatedly should
      // `spark.catalog.clearCache()` (or unpersist via
      // spark.sharedState.cacheManager) between batches; at ~334 MB
      // of columnar blocks per call the storage pool's LRU eviction
      // otherwise absorbs the turnover.
      .persist()
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
      .select("fp")
    val kept = fps.join(rare, "fp")
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
