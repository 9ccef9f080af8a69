package graft.kernel

/** Mergeable streaming sketches for corpus-scale statistics — pure JVM,
  * no Spark dependencies, deterministic (explicit hash arithmetic, no
  * JVM-identity hashing), with canonical serialized forms so a sketch
  * can be written to a table, re-read in a later job, and merged — the
  * save-state-and-merge-incrementally workflow a 100 TB curation
  * pipeline needs (per-shard sketches written at ingest time, combined
  * at query time without rescanning the corpus).
  *
  * Beyond-reference capability: the reference engine (and Spark's
  * built-in approx_count_distinct) can estimate a distinct count in one
  * pass, but neither exposes a re-mergeable sketch VALUE with set
  * operations. Theta/KMV sketches add distinct-count UNION and
  * INTERSECTION ("how many documents appear in BOTH crawls") in O(k)
  * space; Misra-Gries adds guaranteed-error heavy hitters in O(k)
  * space. Algorithms are the published ones: KMV/theta per
  * Beyer et al. (SIGMOD'07) / Dasgupta et al. theta-sketch framework;
  * Misra-Gries (1982) with the mergeable-summaries combine step of
  * Agarwal et al. (PODS'12).
  */
object Sketches {

  /** Item hash → uniform 63-bit non-negative value (the sketch's
    * sample space [0, 2^63)). splitmix64 finalizer over either the
    * FNV-64 of a string or a raw long key.
    */
  def hashString(s: String): Long = TextKernel.mix64(TextKernel.hash64(s)) & Long.MaxValue
  def hashLong(x: Long): Long = TextKernel.mix64(x) & Long.MaxValue

  private val Space: Double = java.lang.Math.pow(2.0, 63) // exclusive hash-space bound

  /** KMV ("k minimum values") theta sketch of a set of 63-bit item
    * hashes: retains the k smallest distinct hashes seen.
    *
    * - Unsaturated (n < k): the sketch IS the distinct hash set —
    *   estimates and set operations are EXACT (the oracle-checkable
    *   regime; the correctness queries pin this).
    * - Saturated: the retained set is a uniform sample of the distinct
    *   items below theta (= the k-th smallest hash), and
    *   estimate = (k-1) / (theta / 2^63) — the unbiased KMV estimator,
    *   relative error ~ 1/sqrt(k-2).
    *
    * Update cost: one comparison per row once saturated (h >= theta
    * rejects immediately); retained inserts are O(log k) via a max-heap
    * + hash set. Merge keeps the k smallest of the union below the
    * smaller effective theta. State is O(k) regardless of stream size.
    */
  final class ThetaSketch(val k: Int) extends Serializable {
    require(k >= 2 && k <= (1 << 20), s"theta sketch k out of range: $k")
    private val set = new java.util.HashSet[java.lang.Long]()
    // max-heap over retained hashes (eviction of the largest)
    private val heap = new java.util.PriorityQueue[java.lang.Long](
      11, java.util.Collections.reverseOrder[java.lang.Long]())

    def size: Int = set.size

    /** Exclusive sampling bound: 2^63 (i.e. "everything retained")
      * while unsaturated, else the k-th smallest hash.
      */
    def effTheta: Long = if (set.size < k) Long.MaxValue else heap.peek()

    def updateHash(h: Long): Unit = {
      if (set.size == k && h >= heap.peek()) return
      val boxed = java.lang.Long.valueOf(h)
      if (set.contains(boxed)) return
      set.add(boxed)
      heap.add(boxed)
      if (set.size > k) {
        val evicted = heap.poll()
        set.remove(evicted)
      }
    }

    def update(s: String): Unit = if (s != null) updateHash(hashString(s))
    def update(x: Long): Unit = updateHash(hashLong(x))

    def merge(other: ThetaSketch): Unit = {
      // Values at/above the smaller effective theta are not a uniform
      // sample of the union; cap first, then refill smallest-k.
      val cap = math.min(effTheta, other.effTheta)
      val it = other.set.iterator()
      while (it.hasNext) {
        val h = it.next()
        if (h <= cap) updateHash(h)
      }
      if (cap < Long.MaxValue) {
        // drop own retained values beyond the joint bound (they were
        // sampled under a looser theta than the merged sketch's)
        while (!heap.isEmpty && heap.peek() > cap) {
          val evicted = heap.poll()
          set.remove(evicted)
        }
      }
    }

    def estimate: Double =
      if (set.size < k) set.size.toDouble
      else (k - 1).toDouble / (heap.peek().toDouble / Space)

    /** Sorted canonical image of the retained hashes. */
    def retained: Array[Long] = {
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      java.util.Arrays.sort(out)
      out
    }

    /** Canonical bytes: k, n, sorted retained hashes. Deterministic
      * for a given item set (insertion order never matters).
      */
    def serialized: Array[Byte] = {
      val r = retained
      val bb = java.nio.ByteBuffer.allocate(8 + r.length * 8)
      bb.putInt(k); bb.putInt(r.length)
      var i = 0
      while (i < r.length) { bb.putLong(r(i)); i += 1 }
      bb.array()
    }
  }

  object ThetaSketch {
    def deserialize(bytes: Array[Byte]): ThetaSketch = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val k = bb.getInt
      val n = bb.getInt
      val s = new ThetaSketch(k)
      var i = 0
      while (i < n) { s.updateHash(bb.getLong); i += 1 }
      s
    }

    /** Distinct-count estimate of the intersection of two sketches:
      * count the common retained hashes below the joint theta (one
      * merge-intersect pass over the two sorted retained arrays), scale
      * by the joint sampling fraction. Exact when both sketches are
      * unsaturated (the oracle regime).
      */
    def intersectEstimate(a: ThetaSketch, b: ThetaSketch): Double = {
      val cap = math.min(a.effTheta, b.effTheta)
      val ra = a.retained
      val rb = b.retained
      var i = 0
      var j = 0
      var common = 0L
      while (i < ra.length && j < rb.length && ra(i) <= cap && rb(j) <= cap) {
        if (ra(i) < rb(j)) i += 1
        else if (ra(i) > rb(j)) j += 1
        else { common += 1; i += 1; j += 1 }
      }
      if (cap == Long.MaxValue) common.toDouble
      else common.toDouble / (cap.toDouble / Space)
    }
  }

  /** Misra-Gries frequent-items sketch over string items with at most
    * `k` counters.
    *
    * Invariant: for every item x with true count c(x),
    * countMin(x) <= c(x) <= countMin(x) + decremented — where
    * `decremented` accumulates every subtraction the compaction step
    * ever applied (including through merges, per the mergeable-
    * summaries combine: sum counters pointwise, subtract the (k+1)-th
    * largest, drop non-positive). Items absent from the sketch have
    * countMin 0, so any item with c(x) > decremented is guaranteed
    * present — the heavy-hitter guarantee (error <= n/(k+1) for a
    * single stream).
    *
    * Unsaturated regime (distinct items <= k): no decrement ever
    * happens and every count is exact — the oracle-checkable regime.
    */
  final class FreqSketch(val k: Int) extends Serializable {
    require(k >= 1 && k <= (1 << 20), s"freq sketch k out of range: $k")
    // values boxed explicitly: a java.util.HashMap[String, scala.Long]
    // silently unboxes absent-key nulls to 0 through the generic bridge
    private val counts = new java.util.HashMap[String, java.lang.Long]()
    private var decs: Long = 0L

    def decremented: Long = decs
    def size: Int = counts.size

    def update(item: String, weight: Long = 1L): Unit = {
      if (item == null || weight <= 0) return
      val cur = counts.get(item)
      if (cur != null) counts.put(item, cur.longValue + weight)
      else if (counts.size < k) counts.put(item, weight)
      else {
        // batched MG decrement: subtract min(minCount, weight); the new
        // item enters only with whatever weight survives the subtraction
        var minC = Long.MaxValue
        val it = counts.values().iterator()
        while (it.hasNext) minC = math.min(minC, it.next().longValue)
        val sub = math.min(minC, weight)
        decs += sub
        val eit = counts.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          val nv = e.getValue.longValue - sub
          if (nv <= 0) eit.remove() else e.setValue(nv)
        }
        if (weight > sub) counts.put(item, weight - sub)
      }
    }

    def merge(other: FreqSketch): Unit = {
      val it = other.counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cur = counts.get(e.getKey)
        counts.put(e.getKey,
          if (cur == null) e.getValue else cur.longValue + e.getValue.longValue)
      }
      decs += other.decs
      if (counts.size > k) {
        // subtract the (k+1)-th largest count, keep survivors (<= k of them)
        val vals = new Array[Long](counts.size)
        val vit = counts.values().iterator()
        var i = 0
        while (vit.hasNext) { vals(i) = vit.next().longValue; i += 1 }
        java.util.Arrays.sort(vals)
        val cut = vals(vals.length - k - 1) // (k+1)-th largest
        decs += cut
        val eit = counts.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          val nv = e.getValue.longValue - cut
          if (nv <= 0) eit.remove() else e.setValue(nv)
        }
      }
    }

    /** (item, countMin, countMax) sorted by countMin desc then item asc
      * — a deterministic order for top-N selection.
      */
    def result(): Array[(String, Long, Long)] = {
      val out = new Array[(String, Long, Long)](counts.size)
      val it = counts.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        out(i) = (e.getKey, e.getValue.longValue, e.getValue.longValue + decs)
        i += 1
      }
      scala.util.Sorting.stableSort(out,
        (a: (String, Long, Long), b: (String, Long, Long)) =>
          a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      out
    }

    def serialized: Array[Byte] = {
      val entries = result()
      var bytes = 4 + 8 + 4
      val encoded = entries.map { case (s, c, _) =>
        (s.getBytes(java.nio.charset.StandardCharsets.UTF_8), c)
      }
      encoded.foreach { case (b, _) => bytes += 4 + b.length + 8 }
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(k); bb.putLong(decs); bb.putInt(encoded.length)
      encoded.foreach { case (b, c) =>
        bb.putInt(b.length); bb.put(b); bb.putLong(c)
      }
      bb.array()
    }
  }

  object FreqSketch {
    def deserialize(bytes: Array[Byte]): FreqSketch = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val s = new FreqSketch(bb.getInt)
      val decs = bb.getLong
      val n = bb.getInt
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val sb = new Array[Byte](len)
        bb.get(sb)
        val c = bb.getLong
        s.counts.put(new String(sb, java.nio.charset.StandardCharsets.UTF_8), c)
        i += 1
      }
      s.decs = decs
      s
    }
  }

  /** KLL quantile sketch (Karnin-Lang-Liberty, FOCS'16) over doubles:
    * mergeable, O(k log(n/k)) space, additive rank error ~O(1/k).
    *
    * Structure: a stack of buffers ("compactors"); items in level h
    * carry weight 2^h. Level capacities shrink geometrically going
    * DOWN from the top (ratio 2/3), so the top levels — which carry
    * the heavy weights — keep the most samples. When total size
    * exceeds total capacity, the lowest over-full level is compacted:
    * sort, keep every second item (offset chosen by a deterministic
    * splitmix64 coin over the compaction counter), promote survivors
    * one level up.
    *
    * Exact regime (the oracle-checkable one): while n <= k only level
    * 0 exists at capacity k, no compaction ever fires, and
    * `quantile(q)` returns EXACTLY the discrete quantile
    * sorted[ceil(q*n)-1] — DuckDB's quantile_disc convention —
    * independent of insertion/merge order. Past k the estimate's rank
    * error concentrates around ~2/k (QuantileSketchSpec pins a 5x
    * safety bound).
    */
  final class QuantileSketch(val k: Int) extends Serializable {
    require(k >= 8 && k <= (1 << 16), s"quantile sketch k out of range: $k")
    private var levels: Array[java.util.ArrayList[java.lang.Double]] =
      Array(new java.util.ArrayList[java.lang.Double]())
    private var count: Long = 0L
    private var compactions: Long = 0L

    def n: Long = count
    def numLevels: Int = levels.length

    private def capacity(h: Int): Int = {
      // top level holds k; each level below holds 2/3 of the one above
      var c = k.toDouble
      var i = levels.length - 1
      while (i > h) { c = c * 2.0 / 3.0; i -= 1 }
      math.max(math.ceil(c).toInt, 2)
    }

    private def totalCapacity: Int = {
      var s = 0
      var h = 0
      while (h < levels.length) { s += capacity(h); h += 1 }
      s
    }

    private def totalSize: Int = {
      var s = 0
      var h = 0
      while (h < levels.length) { s += levels(h).size; h += 1 }
      s
    }

    def update(x: Double): Unit = {
      levels(0).add(x)
      count += 1
      compress()
    }

    private def compress(): Unit = {
      while (totalSize > totalCapacity) {
        // lowest level at/over its capacity (one always exists here)
        var h = 0
        while (h < levels.length && levels(h).size < capacity(h)) h += 1
        if (h >= levels.length) return // defensive; cannot happen
        compactLevel(h)
      }
    }

    private def compactLevel(h: Int): Unit = {
      if (h == levels.length - 1)
        levels = levels :+ new java.util.ArrayList[java.lang.Double]()
      val buf = levels(h)
      java.util.Collections.sort(buf)
      // deterministic pseudo-coin: keeps runs reproducible for a given
      // operation order (exact regime never reaches this at all)
      val offset = (TextKernel.mix64(compactions + 0x9e37L * h) & 1L).toInt
      compactions += 1
      val up = levels(h + 1)
      var i = offset
      while (i < buf.size) { up.add(buf.get(i)); i += 2 }
      buf.clear()
    }

    def merge(other: QuantileSketch): Unit = {
      while (levels.length < other.levels.length)
        levels = levels :+ new java.util.ArrayList[java.lang.Double]()
      var h = 0
      while (h < other.levels.length) {
        levels(h).addAll(other.levels(h))
        h += 1
      }
      count += other.count
      compress()
    }

    /** All retained (value, weight=2^level) pairs sorted by value. */
    private def weighted(): (Array[Double], Array[Long]) = {
      val m = totalSize
      val vs = new Array[Double](m)
      val ws = new Array[Long](m)
      var i = 0
      var h = 0
      while (h < levels.length) {
        val buf = levels(h)
        val w = 1L << h
        var j = 0
        while (j < buf.size) { vs(i) = buf.get(j); ws(i) = w; i += 1; j += 1 }
        h += 1
      }
      // sort pairs by value (indices sorted via boxed indirection is
      // fine at O(k log k) per RESULT row, not per input row)
      val idx = Array.range(0, m).sortBy(vs)
      (idx.map(vs), idx.map(ws))
    }

    /** Discrete quantile estimate: smallest retained value whose
      * cumulative weight reaches ceil(q * n). Exact (= quantile_disc)
      * while unsaturated. NaN on an empty sketch.
      */
    def quantile(q: Double): Double = {
      require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
      if (count == 0L) return Double.NaN
      val (vs, ws) = weighted()
      val target = math.max(math.ceil(q * count).toLong, 1L)
      var cum = 0L
      var i = 0
      while (i < vs.length) {
        cum += ws(i)
        if (cum >= target) return vs(i)
        i += 1
      }
      vs(vs.length - 1)
    }

    /** Canonical bytes: k, n, compactions, numLevels, then each level's
      * SORTED buffer (count + doubles). Sorting makes the image
      * insertion-order-canonical per level.
      */
    def serialized: Array[Byte] = {
      var bytes = 4 + 8 + 8 + 4 + 4 * levels.length
      levels.foreach(b => bytes += 8 * b.size)
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(k); bb.putLong(count); bb.putLong(compactions)
      bb.putInt(levels.length)
      levels.foreach { b =>
        java.util.Collections.sort(b)
        bb.putInt(b.size)
        var i = 0
        while (i < b.size) { bb.putDouble(b.get(i)); i += 1 }
      }
      bb.array()
    }
  }

  object QuantileSketch {
    def deserialize(bytes: Array[Byte]): QuantileSketch = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val s = new QuantileSketch(bb.getInt)
      val n = bb.getLong
      val compactions = bb.getLong
      val nLevels = bb.getInt
      s.levels = Array.fill(nLevels)(new java.util.ArrayList[java.lang.Double]())
      var h = 0
      while (h < nLevels) {
        val m = bb.getInt
        var i = 0
        while (i < m) { s.levels(h).add(bb.getDouble); i += 1 }
        h += 1
      }
      s.count = n
      s.compactions = compactions
      s
    }
  }
}
