package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Lineage.TruncateOps

/** Byte-pair-encoding tokenizer training — the published BPE recipe
  * (iteratively merge the most frequent adjacent symbol pair) run in
  * its distributed form: all corpus-sized work happens ONCE (the word
  * count), every merge iteration runs over the vocabulary-sized
  * (word, freq) table only, and the driver holds nothing bigger than
  * the merge list itself. Part of the LLM-pipeline extension surface
  * (the reference engine ships no tokenizer trainer).
  *
  * Determinism contract: the merge chosen each round is the pair with
  * the highest frequency, ties broken by (left symbol, right symbol)
  * byte order — a total order, so training is reproducible bit-for-bit
  * regardless of partitioning. Words are split into Unicode CODE
  * POINTS (not UTF-16 units), matching codepoint-indexed substr
  * semantics in SQL engines.
  *
  * Scale shape: wordCounts is one map-side-combined aggregate (output
  * = |vocab| rows, however big the corpus). Each of the M iterations
  * is one aggregate over the vocab table (pair counts, output ≤
  * |pairs| rows) plus a 1-row deterministic top-1 collect and a
  * map-only re-symbolization; the vocab table is cached and replaced
  * per iteration, so lineage stays one step deep. Applying a trained
  * merge table ([[encode]]) is map-only with the M-row merge list
  * broadcast.
  */
object BpeTrainer {

  /** UTF-8 BYTE order (Spark's UTF8String binary comparison, DuckDB's
    * default VARCHAR collation) — NOT Java's UTF-16 order; the two
    * diverge for supplementary characters (a surrogate pair sorts
    * below U+E000..U+FFFF in UTF-16 but above them in code-point
    * order). Every ordering decision an oracle re-derives (merge
    * tie-breaks, symbol-id assignment) must use this.
    */
  private[ops] val utf8Ord: Ordering[String] = (x: String, y: String) => {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    var r = 0
    while (r == 0 && i < n) {
      r = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff); i += 1
    }
    if (r != 0) r else java.lang.Integer.compare(a.length, b.length)
  }

  /** Split into Unicode code points. */
  private[ops] def symbols(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** (word, freq) over the tokenizer's standard token stream. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(udf((t: String) =>
        if (t == null) Array.empty[String] else TextKernel.tokens(t))
        .apply(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** (syms, freq): the symbolized initial vocabulary — one row per
    * distinct word, symbols = code points.
    */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame = {
    val symsUdf = udf((w: String) => symbols(w))
    wordCounts(docs, textCol)
      .select(symsUdf(col("word")).as("syms"), col("freq"))
  }

  /** Adjacent-symbol pair counts over a symbolized vocabulary
    * (syms: array of current symbols, freq: word frequency) — the
    * kernel of one training iteration, exposed for the oracle row.
    * Output: (a, b, cnt) where cnt counts occurrences weighted by word
    * frequency (a word containing the pair k times contributes
    * k · freq).
    */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val pairsUdf = udf((syms: Seq[String]) =>
      if (syms == null || syms.length < 2) Array.empty[(String, String)]
      else syms.iterator.zip(syms.iterator.drop(1)).toArray)
    vocab.select(explode(pairsUdf(col("syms"))).as("p"), col("freq"))
      .groupBy(col("p._1").as("a"), col("p._2").as("b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Left-to-right, non-overlapping merge of every (a, b) occurrence —
    * the standard BPE application order ("aaa" with merge (a,a) →
    * ["aa", "a"]).
    */
  private[ops] def applyMerge(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train `numMerges` merges over the corpus. Returns the ordered
    * merge list. Stops early if no adjacent pair remains.
    *
    * Each iteration TRUNCATES lineage with an eager `localCheckpoint`
    * rather than `cache()`: a cached plan still nests the previous
    * iteration's full plan inside its `InMemoryRelation` argString, so
    * plan *text* (built by Spark for the SQL tab / error rendering)
    * grows geometrically with iterations — measured as a driver OOM in
    * `QueryExecution.explainString` at merge ~18 on a 500k-doc corpus.
    * `localCheckpoint` replaces the logical plan with a constant-size
    * `LogicalRDD`, making per-iteration plan cost flat. The vocab table
    * is |distinct words| rows (≪ corpus), so executor-local checkpoint
    * storage is cheap; on a real cluster executor loss just re-fails
    * the training job, which is acceptable for an offline trainer.
    */
  def trainMerges(docs: DataFrame, textCol: String,
      numMerges: Int): Seq[(String, String)] =
    trainMergesFromVocab(initialVocab(docs, textCol), numMerges)

  private[ops] def trainMergesFromVocab(initial: DataFrame,
      numMerges: Int): Seq[(String, String)] = {
    val spark = initial.sparkSession
    import spark.implicits._
    var vocab = initial.truncateLineage()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).as[(String, String, Long)].collect()
      top.headOption match {
        case None => done = true
        case Some((a, b, _)) =>
          merges += ((a, b))
          val mergeUdf = udf((syms: Seq[String]) => applyMerge(syms, a, b))
          val next = vocab.select(mergeUdf(col("syms")).as("syms"),
            col("freq")).truncateLineage()
          vocab.unpersist()
          vocab = next
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** In-memory merge loop over a collected (symbols, freq) vocabulary —
    * the kernel behind [[trainMergesAuto]]'s local path. Identical
    * output contract to [[trainMerges]] (same top-pair choice, same
    * (cnt desc, a, b) total-order tie-break, same L2R non-overlapping
    * apply), pinned by BpeTrainerSpec's local-vs-distributed test.
    *
    * Algorithm: the standard incremental trainer — adjacency pair
    * counts with a (cnt, a, b)-ordered selection structure and a
    * pair→word-ids index; each merge touches only the words containing
    * the merged pair (subtract their old pair counts, rewrite, add the
    * new ones). Cost ≈ O(total symbols + merges × affected words),
    * independent of corpus size.
    */
  private[ops] def trainMergesLocal(
      wordFreqs: Array[(Array[String], Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val words = wordFreqs.map(_._1.clone())
    val freqs = wordFreqs.map(_._2)
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, utf8Ord, utf8Ord)
    val queue = mutable.TreeSet.empty[(Long, String, String)]
    def addWordPairs(wi: Int, sign: Long): Unit = {
      val s = words(wi); val f = freqs(wi)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        val old = cnt.getOrElse(p, 0L)
        if (old != 0L) queue.remove((old, p._1, p._2))
        val nw = old + sign * f
        if (nw != 0L) { cnt(p) = nw; queue.add((nw, p._1, p._2)) }
        else cnt.remove(p)
        if (sign > 0) where.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(addWordPairs(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && queue.nonEmpty) {
      val (c, a, b) = queue.head
      // where-sets are not pruned on subtraction; skip stale entries.
      if (c <= 0L) { queue.remove(queue.head) }
      else {
        merges += ((a, b))
        val affected = where.getOrElse((a, b), mutable.Set.empty).toArray.sorted
        for (wi <- affected) {
          val s = words(wi)
          var has = false; var i = 0
          while (!has && i + 1 < s.length) {
            if (s(i) == a && s(i + 1) == b) has = true; i += 1
          }
          if (has) {
            addWordPairs(wi, -1L)
            words(wi) = applyMerge(s.toSeq, a, b).toArray
            addWordPairs(wi, 1L)
          }
        }
        where.remove((a, b))
        val left = cnt.getOrElse((a, b), 0L)
        if (left != 0L) { queue.remove((left, a, b)); cnt.remove((a, b)) }
      }
    }
    merges.toSeq
  }

  /** Size-gated training: the corpus-sized work — word counting,
    * optionally pruned by `minFreq` — is always distributed; the merge
    * loop then runs in-memory over the vocabulary the gate collects
    * when it holds at most [[LocalGate.MaxRows]] words (one merge ≈
    * microseconds instead of two Spark jobs — a realistic 32k-merge
    * vocabulary is seconds instead of hours), and falls back to the
    * fully distributed [[trainMerges]] loop above the cap. Both return
    * the same merges, and the word counts stay persisted from the gate's
    * probe to the end of either loop ([[LocalGate.cached]]), so the
    * corpus is tokenized once. `minFreq` is the standard trainer knob
    * that keeps a web-scale vocabulary (typos, URLs) bounded: hapax
    * tokens can never win a merge against real text anyway.
    */
  def trainMergesAuto(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 1L): Seq[(String, String)] =
    trainMergesAutoGated(docs, textCol, numMerges, minFreq, LocalGate.MaxRows)

  /** [[trainMergesAuto]] with its cap as an argument. */
  private[ops] def trainMergesAutoGated(docs: DataFrame, textCol: String,
      numMerges: Int, minFreq: Long, cap: Int): Seq[(String, String)] = {
    val counts = wordCounts(docs, textCol)
    val vocab = if (minFreq > 1L) counts.filter(col("freq") >= minFreq)
      else counts
    val symsUdf = udf((w: String) => symbols(w))
    LocalGate.cached(vocab, cap)(
      rows => trainMergesLocal(
        rows.map(r => (symbols(r.getString(0)), r.getLong(1))), numMerges),
      kept => trainMergesFromVocab(
        kept.select(symsUdf(col("word")).as("syms"), col("freq")), numMerges))
  }

  /** Per-document BPE token counts via the vocabulary, not the corpus:
    * the merge loop runs ONCE per distinct word (|vocab| rows, ≪
    * corpus), and documents get their counts back through a broadcast
    * join on the word — the only corpus-sized passes are the tokenize
    * explode and the final doc-keyed sum. This is the shape a 100 TB
    * tokenize-and-pack job must use: re-encoding every occurrence
    * (as [[encode]] does per row) multiplies the merge-loop cost by
    * corpus/vocab, which is ~10^4 on real text. Output: (doc_id,
    * n_bpe) with n_bpe = 0 for empty/NULL docs.
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val nSymsUdf = udf((w: String) => {
      var syms: Seq[String] = symbols(w).toSeq
      for ((a, b) <- merges) syms = applyMerge(syms, a, b)
      syms.length.toLong
    })
    // Vocab from a second map pass over the corpus rather than a
    // (doc_id, word) pre-grouping: the pre-grouping shuffled one row
    // per DISTINCT (doc, word) pair — O(corpus tokens) through the
    // exchange — purely to feed a broadcast join that is map-side
    // anyway. Two cheap tokenize passes + a map-side-combined
    // per-doc sum (one row per (partition, doc) through the shuffle)
    // beat one pass + a corpus-sized exchange at any scale. The
    // encoded vocab is broadcast; a vocabulary too large for the
    // driver needs the plain join form instead (and a corpus like
    // that should be training with minFreq pruning anyway).
    val encodedVocab = wordCounts(docs, textCol)
      .select(col("word"), nSymsUdf(col("word")).as("n_syms"))
    val tokensDf = docs.select(col(idCol).as("doc_id"),
      explode(udf((t: String) =>
        if (t == null) Array.empty[String] else TextKernel.tokens(t))
        .apply(col(textCol))).as("word"))
    val counted = tokensDf.join(broadcast(encodedVocab), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_syms")).as("n_bpe"))
    // Re-attach zero-token documents (no words ⇒ absent from the
    // explode) so the output covers every input id.
    docs.select(col(idCol).as("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }

  /** Packed token-ID sequences — the trainer-ready artifact a 100 TB
    * tokenize-and-pack ingest actually emits (r8 verdict #4): documents
    * are BPE-encoded to integer ids and laid end-to-end in
    * [[Packing]]'s deterministic sharded stream order, and each
    * `budget`-token pack materializes its id array. Output one row per
    * (bucket, pack_id): (bucket, pack_id, n_tokens, token_ids) with
    * token_ids in stream order; documents split across pack boundaries
    * exactly as a training data loader's concat-and-chunk does.
    *
    * Ids: the distinct final symbols of the merged vocabulary get
    * dense ids 1..K in UTF-8 byte order. The symbol table is bounded
    * by |distinct code points| + |merges| BY CONSTRUCTION (merges only
    * ever add one symbol each), so collecting it to the driver is a
    * size contract, not a scale risk — it IS the tokenizer artifact a
    * trainer ships.
    *
    * Scale shape (r14 rewrite, guide §2.3/§2.4/§8): the merge loop
    * still runs once per DISTINCT word, but the word → id-list table —
    * which the pre-r14 plan ALREADY collected to the driver to build a
    * broadcast-join relation — is now an explicit broadcast map, so
    * each document encodes to its dense id sequence in ONE kernel pass
    * (no per-token explode, no per-token window, no per-token join).
    * The only corpus-sized exchange left is the bucket-keyed window
    * the layout already pays ([[Packing.packCountedCarry]]), which now
    * carries the document text as payload; pack assembly then runs
    * partition-locally over the window's (bucket, rk, doc_id) order as
    * a streaming iterator with O(budget) state. Measured at the x12
    * bench point: 625 MB shuffled across three token-level exchanges →
    * ~60 MB across one doc-level exchange, identical output (l67 pins
    * the id arrays bit-for-bit under the driver's DuckDB oracle).
    * Per-token rows never exist; per-task state is one pack buffer.
    */
  def packTokenIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], budget: Int, buckets: Int,
      precomputedWordCounts: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val mergedUdf = udf((w: String) => {
      var s: Seq[String] = symbols(w).toSeq
      for ((a, b) <- merges) s = applyMerge(s, a, b)
      s.toArray
    })
    // The tokenizer artifact: distinct words with their merged-symbol
    // id lists. Driver-bounded BY THE SAME CONTRACT as before — the
    // old plan's broadcast(wordIds) join collected exactly this table
    // to the driver to build the hash relation (plus symIds was always
    // a driver collect); the collect is now explicit instead of hidden
    // inside BroadcastExchange.
    val vocabRows = precomputedWordCounts
      .getOrElse(wordCounts(docs, textCol))
      .select(col("word"), mergedUdf(col("word")).as("syms"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val symIds: Map[String, Long] = vocabRows.iterator.flatMap(_._2)
      .toArray.distinct
      .sorted(utf8Ord).zipWithIndex
      .map { case (s, i) => (s, (i + 1).toLong) }.toMap
    val wordIdsMap = new java.util.HashMap[String, Array[Long]](
      vocabRows.length * 2)
    vocabRows.foreach { case (w, syms) =>
      wordIdsMap.put(w, syms.iterator.map(symIds).toArray)
    }
    val bcIds = spark.sparkContext.broadcast(wordIdsMap)
    // Per-doc BPE token count WITHOUT materializing the ids: one map
    // pass over the text feeding the layout window.
    val nBpeUdf = udf((t: String) =>
      if (t == null) 0L
      else {
        val ts = graft.kernel.TextKernel.tokens(t)
        val m = bcIds.value
        var n = 0L
        var i = 0
        while (i < ts.length) {
          val a = m.get(ts(i))
          // loud contract failure instead of an opaque executor NPE
          // (ADVICE r14): a minFreq-pruned or foreign-corpus
          // precomputedWordCounts frame would otherwise surface as a
          // bare NullPointerException deep in a task
          require(a != null, s"token '${ts(i)}' absent from the vocab " +
            "map — precomputedWordCounts must cover every corpus token " +
            "(unpruned counts from THIS corpus)")
          n += a.length; i += 1
        }
        n
      })
    val counted = docs.select(col(idCol).as("doc_id"),
      nBpeUdf(col(textCol)).as("n_bpe"), col(textCol).as("__graft_text"))
    val laid = Packing.packCountedCarry(counted, "doc_id", "n_bpe",
        budget, buckets, carry = Seq("__graft_text"))
      // token-less docs occupy no stream space and emit no ids
      .filter(col("n_tokens") > 0)
      // start_offset MUST ride along even though the assembler could
      // in principle re-derive it: referencing the window's output is
      // what keeps the window (and with it the bucket exchange + the
      // (bucket, rk, doc_id) sort this assembly depends on) in the
      // plan — selecting only (bucket, text) lets Catalyst prune the
      // unused window entirely and the packs fragment per input
      // partition (caught by BpeTrainerSpec when this was written).
      // The assembler then REQUIRES each doc's start_offset to equal
      // its running stream position, so any future plan change that
      // breaks the co-location/order contract fails loudly instead of
      // emitting silently wrong packs.
      .select(col("bucket"), col("start_offset"),
        col("__graft_text").as("text"))
    // Assemble packs partition-locally: rows arrive grouped by bucket
    // and stream-ordered within it (the window's required sort), so a
    // streaming walk that encodes each doc and cuts every `budget` ids
    // reproduces gpos/pack_id arithmetic exactly — the stream is
    // contiguous from 0 within a bucket by construction.
    import spark.implicits._
    val b = budget
    laid.as[(Long, Long, String)].mapPartitions { iter =>
      val m = bcIds.value
      new scala.collection.AbstractIterator[(Long, Long, Long, Array[Long])] {
        private val buf = new Array[Long](b)
        private var bufN = 0
        private var curBucket = 0L
        private var haveBucket = false
        private var packId = -1L
        private var streamPos = 0L
        private var ids: Array[Long] = Array.emptyLongArray
        private var pos = 0
        private var out: (Long, Long, Long, Array[Long]) = _
        private var outReady = false
        private def encode(t: String): Array[Long] = {
          val ts = graft.kernel.TextKernel.tokens(t)
          var total = 0
          var i = 0
          val parts = new Array[Array[Long]](ts.length)
          while (i < ts.length) {
            parts(i) = m.get(ts(i))
            require(parts(i) != null, s"token '${ts(i)}' absent from " +
              "the vocab map — precomputedWordCounts must cover every " +
              "corpus token (unpruned counts from THIS corpus)")
            total += parts(i).length; i += 1
          }
          val flat = new Array[Long](total)
          var o = 0; i = 0
          while (i < ts.length) {
            System.arraycopy(parts(i), 0, flat, o, parts(i).length)
            o += parts(i).length; i += 1
          }
          flat
        }
        private def load(off: Long, text: String): Unit = {
          require(off == streamPos,
            s"packTokenIds assembly: doc at stream offset $off arrived " +
              s"at position $streamPos of bucket $curBucket — the plan " +
              "no longer delivers bucket-grouped stream-ordered rows")
          ids = encode(text)
          pos = 0
          streamPos += ids.length
        }
        @annotation.tailrec private def step(): Boolean = {
          if (pos < ids.length) {
            val take = math.min(b - bufN, ids.length - pos)
            System.arraycopy(ids, pos, buf, bufN, take)
            bufN += take; pos += take
            if (bufN == b) {
              packId += 1
              out = (curBucket, packId, b.toLong,
                java.util.Arrays.copyOf(buf, b))
              bufN = 0
              true
            } else step()
          } else if (iter.hasNext) {
            val (bkt, off, text) = iter.next()
            if (!haveBucket) { haveBucket = true; curBucket = bkt }
            if (bkt != curBucket) {
              // bucket switch: flush the previous bucket's partial pack
              val flushed =
                if (bufN > 0) {
                  packId += 1
                  out = (curBucket, packId, bufN.toLong,
                    java.util.Arrays.copyOf(buf, bufN))
                  bufN = 0
                  true
                } else false
              curBucket = bkt
              packId = -1L
              streamPos = 0L
              load(off, text)
              if (flushed) true else step()
            } else {
              load(off, text)
              step()
            }
          } else if (bufN > 0) {
            packId += 1
            out = (curBucket, packId, bufN.toLong,
              java.util.Arrays.copyOf(buf, bufN))
            bufN = 0
            true
          } else false
        }
        override def hasNext: Boolean = {
          if (!outReady) outReady = step()
          outReady
        }
        override def next(): (Long, Long, Long, Array[Long]) = {
          if (!hasNext) throw new NoSuchElementException
          outReady = false
          out
        }
      }
    }.toDF("bucket", "pack_id", "n_tokens", "token_ids")
  }

  /** Tokenize documents with a trained merge list (applied in training
    * order, the standard BPE encode): (doc_id, bpe_tokens, n_bpe).
    * The merge table is driver-bounded by construction (M entries) and
    * ships inside the UDF closure — map-only, no shuffle.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val encodeUdf = udf((t: String) => {
      if (t == null) Array.empty[String]
      else TextKernel.tokens(t).flatMap { w =>
        var syms: Seq[String] = symbols(w).toSeq
        for ((a, b) <- merges) syms = applyMerge(syms, a, b)
        syms
      }
    })
    docs.select(col(idCol).as("doc_id"),
        encodeUdf(col(textCol)).as("bpe_tokens"))
      .select(col("doc_id"), col("bpe_tokens"),
        size(col("bpe_tokens")).cast("long").as("n_bpe"))
  }

  /** SentencePiece-convention word-start marker: plain [[encode]]
    * flattens word pieces and loses boundaries, so the id stream is
    * not decodable. Real tokenizers mark word starts; "▁" (U+2581) is
    * the published convention and cannot collide with merge output
    * (merges are built from the corpus alphabet).
    */
  val WordStartMarker = "▁"

  /** Boundary-preserving encode: each word's FIRST piece carries the
    * word-start marker, making the piece stream losslessly decodable
    * back to the tokenizer's normalized text (see [[decodeMarked]]).
    */
  def encodeMarked(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // the merge loop runs once per DISTINCT word per task (transient
    // memo, rebuilt on deserialization): Zipf means word instances
    // outnumber distinct words ~400:1 here — the unmemoized form spent
    // 80M merge scans where ~2k suffice (measured 10.8 s → ~2 s at
    // the sf0.1 sweep tier)
    val encodeFn = new (String => Array[String]) with Serializable {
      @transient private lazy val memo =
        new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
      private def piecesOf(w: String): Array[String] = {
        var syms: Seq[String] = symbols(w).toSeq
        for ((a, b) <- merges) syms = applyMerge(syms, a, b)
        ((WordStartMarker + syms.head) +: syms.tail).toArray
      }
      def apply(t: String): Array[String] =
        if (t == null) Array.empty[String]
        else TextKernel.tokens(t).flatMap(w =>
          memo.computeIfAbsent(w, piecesOf(_)))
    }
    val encodeUdf = udf(encodeFn)
    docs.select(col(idCol).as("doc_id"),
        encodeUdf(col(textCol)).as("bpe_tokens"))
      .select(col("doc_id"), col("bpe_tokens"),
        size(col("bpe_tokens")).cast("long").as("n_bpe"))
  }

  /** Decode a marked piece array back to text — pure column
    * expressions (concat, marker→space, trim): the round trip
    * reproduces the tokenizer's normalized form (lowercased,
    * whitespace collapsed to single spaces) exactly.
    */
  def decodeMarked(pieces: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(concat_ws("", pieces), WordStartMarker, " "))
}
