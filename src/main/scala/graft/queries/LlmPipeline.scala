package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{BpeTrainer, Clustering, CorpusStats, CorpusWriter, Curation, Decontaminate, Dedup, Dsir, GraphRank, LmScore, Multimodal, Packing, Preference, QualityClassifier, Retrieval, Sampling, Similarity, Sketches, TextStats, UrlOps}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over documents/embeddings.
  *
  * Oracle-checkable variants are registered with DuckDB SQL that
  * re-derives the semantics independently (list/regex functions);
  * probabilistic variants (LSH candidate generation) are registered
  * rows-only and validated by planted-duplicate ScalaTest suites.
  */
object LlmPipeline {

  /** DuckDB 5-gram shingle set of column t (1-based substr, distinct). */
  private def duckShingles(t: String): String =
    s"list_distinct(list_transform(generate_series(1, greatest(length($t) - 4, 0)), i -> substr($t, i, 5)))"

  /** DuckDB 5-gram Jaccard of two text columns, with the kernel's
    * defined empty∪empty → 1.0 case made explicit (two docs shorter
    * than the shingle width have identical — empty — shingle sets;
    * without the CASE, DuckDB's 0/0 yields NULL and the oracle would
    * diverge from TextKernel.ngramJaccard on short docs).
    */
  private def duckJaccard(ta: String, tb: String): String =
    s"""CASE WHEN len(${duckShingles(ta)}) + len(${duckShingles(tb)}) = 0 THEN 1.0
       |     ELSE CAST(len(list_intersect(${duckShingles(ta)}, ${duckShingles(tb)})) AS DOUBLE)
       |          / (len(${duckShingles(ta)}) + len(${duckShingles(tb)})
       |             - len(list_intersect(${duckShingles(ta)}, ${duckShingles(tb)}))) END""".stripMargin

  /** Jaccard from two PRECOMPUTED shingle-set columns — same defined
    * empty∪empty → 1.0 case as [[duckJaccard]], but the sets are built
    * once per DOCUMENT in a materialized CTE instead of 8× per PAIR
    * (duckJaccard textually expands duckShingles eight times and
    * DuckDB does not CSE across them: the l02 pair scan measured
    * 335 s at sf0.1 inline vs 2.0 s restructured — the whole reason
    * five of the seven sweep exclusions existed, r10).
    */
  private def duckJaccardSets(sa: String, sb: String): String =
    s"""CASE WHEN len($sa) + len($sb) = 0 THEN 1.0
       |     ELSE CAST(len(list_intersect($sa, $sb)) AS DOUBLE)
       |          / (len($sa) + len($sb) - len(list_intersect($sa, $sb))) END""".stripMargin

  /** Shared materialized per-doc shingle-set CTE + the consecutive-id
    * pair scan with per-pair jaccard — the linear prefix of the
    * l02/l12/l47/l51/l53 family.
    */
  private val duckConsecPairCtes: String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id, ${duckShingles("text")} AS s FROM documents),
       |pj AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         ${duckJaccardSets("a.s", "b.s")} AS jaccard
       |    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)""".stripMargin

  /** Connected components of the thresholded consecutive-pair graph as
    * a LINEAR gaps-and-islands computation: every edge in this family
    * is (i, i+1) by construction, so a component is exactly a maximal
    * run of consecutive edge-starts — id_a minus its dense row number
    * is constant within a run, the run covers node ids [c0, c1], and
    * the component label is its min node id c0. Replaces the
    * recursive-CTE transitive closure whose reach set is QUADRATIC in
    * component size (one long planted near-dup chain made l12/l47/
    * l51/l53 un-runnable at sf0.1). `comp` = (id, component) over
    * edge-incident nodes only — exactly the connectedComponents
    * contract the Spark side implements.
    */
  private def duckConsecCompCtes(thr: Double): String =
    s"""$duckConsecPairCtes,
       |pairs AS MATERIALIZED (SELECT id_a, id_b FROM pj WHERE jaccard >= $thr),
       |isl AS (SELECT id_a, id_a - ROW_NUMBER() OVER (ORDER BY id_a) AS grp FROM pairs),
       |runs AS (SELECT MIN(id_a) AS c0, MAX(id_a) + 1 AS c1 FROM isl GROUP BY grp),
       |comp AS MATERIALIZED (
       |  SELECT unnest(generate_series(c0, c1)) AS id, c0 AS component
       |    FROM runs)""".stripMargin

  /** Carter–Wegman minhash signature + band-key CTEs over `rel`,
    * shared by the l03/l40/l79 oracles. ONE md5 per distinct shingle
    * (hex halves 1–15 / 16–30 reduced mod 2³¹−1), then all numHashes
    * values are integer mixes, so the oracle stays linear (the
    * md5-per-(j, shingle) family priced it at numHashes × |shingles|
    * digests per document: >90 s at sf0.1; CW measured 3.9 s).
    *
    * The Spark side bands with a different family (Dedup.minhashIndex:
    * FNV shingle hashes, splitmix64 minhash). Both verify EXACT
    * shingle Jaccard, so each result is {pairs with J ≥ threshold}
    * whichever family proposed the candidates, as long as banding
    * recall is 1 at the corpus's Jaccard levels (J⁴ per band, 16
    * bands). Measured equal at sf0.01 and sf0.1 (25/25 and 256/256
    * pairs). A testdata refresh that plants boundary-Jaccard pairs
    * where the two families' recall splits turns these rows red.
    * Emits CTEs `base` (id, shs [+ extraCols]), `sig`, `banded`.
    */
  private def duckCwBandCtes(extraCols: String = ""): String =
    s"""base AS (
       |  SELECT doc_id AS id, ${duckShingles("text")} AS shs$extraCols
       |    FROM documents WHERE length(text) >= 5),
       |cw AS MATERIALIZED (
       |  SELECT *,
       |         list_transform(shs, sg -> CAST(('0x' || substr(md5(sg), 1, 15)) AS BIGINT) % 2147483647) AS m1,
       |         list_transform(shs, sg -> CAST(('0x' || substr(md5(sg), 16, 15)) AS BIGINT) % 2147483647) AS m2
       |    FROM base),
       |sig AS MATERIALIZED (
       |  SELECT * EXCLUDE (m1, m2),
       |         list_transform(generate_series(0, 63), j ->
       |           CASE WHEN len(m1) = 0 THEN 9223372036854775807
       |                ELSE list_min(list_transform(generate_series(1, len(m1)),
       |                       i -> (m1[i] + j * m2[i]) % 2147483647)) END) AS sig
       |    FROM cw),
       |banded AS MATERIALIZED (
       |  SELECT * EXCLUDE (sig, shs), b AS band,
       |         CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '|' ||
       |             array_to_string(list_transform(sig[b*4+1 : b*4+4],
       |               h -> CAST(h AS VARCHAR)), ',')), 1, 15)) AS BIGINT) AS band_hash
       |    FROM sig, generate_series(0, 15) t(b))""".stripMargin

  /** DuckDB left-fold double dot product of two float lists (matches
    * Spark aggregate+zip_with evaluation order bit-for-bit).
    */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Shared oracle CTE block for l16/l17: int8 quantization (the l15
    * convention — per-vector max|x|/127 scale, floor(x/s + 0.5) codes)
    * and the integer dot-product candidate scoring of every corpus
    * vector against query vectors vec_id < 10. One definition so the
    * two queries can never silently check different quantizers.
    */
  private val duckQuantCtes: String =
    """qt AS (
      |  SELECT vec_id, embedding,
      |         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
      |                     (a, b) -> greatest(a, b)) / 127.0 AS s
      |    FROM embeddings),
      |codes AS (
      |  SELECT vec_id,
      |         CASE WHEN s = 0 THEN list_transform(embedding, x -> 0)
      |              ELSE list_transform(embedding, x ->
      |                     CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INTEGER)) END AS q
      |    FROM qt),
      |qpairs AS (
      |  SELECT qq.vec_id AS query_id, c.vec_id AS vec_id,
      |         CAST(list_sum(list_transform(generate_series(1, 64), i ->
      |           CAST(c.q[i] AS BIGINT) * CAST(qq.q[i] AS BIGINT))) AS BIGINT) AS qdot
      |    FROM codes c, codes qq
      |   WHERE qq.vec_id < 10 AND c.vec_id != qq.vec_id)""".stripMargin

  /** Oracle for l10: the hyperplane matrix (4 tables × 10 bits × 64
    * dims of splitmix64-derived constants) is inlined as one 2-D list
    * literal — Double.toString round-trips exactly through DuckDB's
    * literal parser, and both engines compute the projection with the
    * same init-free left fold, so bucket sign bits match bit-for-bit.
    */
  private def l10Oracle: String = {
    val planes = for {
      t <- 0 until 4; b <- 0 until 10
    } yield (0 until 64).map(dd => Similarity.lshPlaneComponent(b, dd, t.toLong))
    val pLit = planes.map(_.mkString("[", ", ", "]")).mkString("[", ",\n  ", "]")
    s"""WITH planes AS (SELECT $pLit AS P),
       |buckets AS (
       |  SELECT vec_id, embedding, t AS table_id,
       |         list_sum(list_transform(generate_series(0, 9), bb ->
       |           CASE WHEN list_reduce(list_transform(generate_series(1, 64), i ->
       |                  CAST(embedding[i] AS DOUBLE) * P[t*10 + bb + 1][i]), (x, y) -> x + y) >= 0
       |                THEN CAST(pow(2, bb) AS BIGINT) ELSE 0 END)) AS bucket
       |    FROM embeddings, generate_series(0, 3) tt(t), planes),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
       |         l.embedding AS emb_a, r.embedding AS emb_b
       |    FROM buckets l JOIN buckets r
       |      ON l.table_id = r.table_id AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
       |c AS (
       |  SELECT id_a, id_b,
       |         ${duckDot("emb_a", "emb_b")} /
       |           (sqrt(${duckDot("emb_a", "emb_a")}) * sqrt(${duckDot("emb_b", "emb_b")})) AS cos
       |    FROM cand)
       |SELECT id_a, id_b, ROUND(MAX(cos), 6) AS cos
       |  FROM c WHERE cos >= 0.3 GROUP BY id_a, id_b""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    // Exact dedup by content hash (hash-partitioned aggregation — the
    // 100 TB-safe baseline dedup).
    QueryDef(
      "l01_exact_dedup",
      (s, d) => Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
             |  FROM documents GROUP BY md5(text)""".stripMargin)),

    // Exact character-5-gram Jaccard over a deterministic pair set
    // (consecutive doc ids) — the verification kernel LSH relies on.
    QueryDef(
      "l02_ngram_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = docs.select((col("doc_id") - 1).as("id_a"), col("text").as("text_b"),
          col("doc_id").as("id_b"))
        a.join(b, "id_a")
          .select(col("id_a"), col("id_b"),
            round(Dedup.ngramJaccard(col("text_a"), col("text_b"), 5), 6).as("jaccard"))
      },
      Some(s"""WITH $duckConsecPairCtes
              |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM pj""".stripMargin)),

    // MinHash + banded LSH near-dup pairs (shingle → signature → band
    // buckets → bucket-local exact-Jaccard verify). The oracle bands
    // with its own linear-time family and verifies the same exact
    // Jaccard — see duckCwBandCtes for why the results agree.
    QueryDef(
      "l03_minhash_lsh",
      (s, d) =>
        Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 5, numHashes = 64, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Some(s"""WITH ${duckCwBandCtes()},
              |cand AS (
              |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
              |    FROM banded l JOIN banded r
              |      ON l.band = r.band AND l.band_hash = r.band_hash AND l.id < r.id),
              |jac AS (
              |  SELECT c.id_a, c.id_b, ${duckJaccardSets("a.shs", "b.shs")} AS jaccard
              |    FROM cand c
              |    JOIN base a ON a.id = c.id_a
              |    JOIN base b ON b.id = c.id_b)
              |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
              |  FROM jac WHERE jaccard >= 0.4""".stripMargin)),

    // SimHash near-dup pairs on the md5 hash family: 60-bit simhash
    // (bit j = majority vote of bit j of md5(token)), 5×12-bit band
    // buckets, exact Hamming verify — fully re-derived by the oracle.
    QueryDef(
      "l04_simhash",
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 10),
      Some("""WITH t AS (
             |  SELECT doc_id AS id,
             |         list_transform(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
             |                                    x -> len(x) > 0), tk -> md5(tk)) AS ths
             |    FROM documents),
             |bits AS MATERIALIZED (
             |  SELECT id,
             |         list_transform(generate_series(0, 59), j ->
             |           CASE WHEN list_sum(list_transform(ths, m ->
             |                  2 * ((CAST(('0x' || substr(m, 15 - j // 4, 1)) AS BIGINT)
             |                        // CAST(pow(2, j % 4) AS BIGINT)) % 2) - 1)) > 0
             |                THEN 1 ELSE 0 END) AS bits
             |    FROM t),
             |banded AS MATERIALIZED (
             |  SELECT id, bits, b AS band,
             |         CAST(list_sum(list_transform(generate_series(0, 11), jj ->
             |           bits[b*12 + jj + 1] * CAST(pow(2, jj) AS BIGINT))) AS BIGINT) AS band_bits
             |    FROM bits, generate_series(0, 4) t2(b)),
             |cand AS (
             |  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.bits AS bits_a, r.bits AS bits_b
             |    FROM banded l JOIN banded r
             |      ON l.band = r.band AND l.band_bits = r.band_bits AND l.id < r.id),
             |ham AS (
             |  SELECT id_a, id_b,
             |         CAST(list_sum(list_transform(generate_series(1, 60), i ->
             |           abs(bits_a[i] - bits_b[i]))) AS BIGINT) AS hamming
             |    FROM cand)
             |SELECT id_a, id_b, MIN(hamming) AS hamming
             |  FROM ham WHERE hamming <= 10 GROUP BY id_a, id_b""".stripMargin)),

    // Brute-force cosine top-k (correctness baseline for ANN): 10 query
    // vectors broadcast against the corpus, top-5 each.
    QueryDef(
      "l05_ann_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
      },
      Some(s"""WITH pairs AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
              |         ${duckDot("c.embedding", "q.embedding")} /
              |           (sqrt(${duckDot("c.embedding", "c.embedding")}) *
              |            sqrt(${duckDot("q.embedding", "q.embedding")})) AS cos
              |    FROM embeddings c, embeddings q
              |   WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
              |ranked AS (
              |  SELECT query_id, vec_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              |    FROM pairs)
              |SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank
              |  FROM ranked WHERE rank <= 5""".stripMargin)),

    // Text-quality stats (token counts, punctuation/stopword ratios,
    // mean word length) — pure column expressions, oracle-re-derived.
    QueryDef(
      "l06_text_stats",
      (s, d) =>
        TextStats.qualityReport(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_bpeish"),
            round(col("punct_ratio"), 6).as("punct_ratio"),
            round(col("stopword_ratio"), 6).as("stopword_ratio"),
            round(col("mean_word_len"), 6).as("mean_word_len")),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS toks
             |    FROM documents)
             |SELECT doc_id,
             |       length(text) AS n_chars,
             |       CAST(len(toks) AS BIGINT) AS n_tokens,
             |       CAST(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0B\f\r]')) AS BIGINT) AS n_bpeish,
             |       ROUND(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
             |             / length(text), 6) AS punct_ratio,
             |       ROUND(CAST(len(list_filter(toks, x -> list_contains(
             |               ['the','and','of','to','in','is','that','it','was','for','a','with'],
             |               lower(x)))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
             |       ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             |             / len(toks), 6) AS mean_word_len
             |  FROM t""".stripMargin)),

    // Winnowing fingerprints (md5 hash family, k=8 w=4) + language-ID.
    // The fingerprint count is re-derived exactly by the oracle; the
    // langId heuristic (stopword-profile argmax with lexicographic tie
    // break, CJK share → zh) is replicated in SQL — the oracle's Han
    // class covers the BMP unified block only, which is exact on this
    // corpus (all-ASCII; the broader UnicodeScript.HAN cases are
    // kernel-tested in TextKernelSpec).
    QueryDef(
      "l07_fingerprint_langid",
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
          Dedup.winnowFingerprintCountExact(col("text"), 8, 4).as("n_fingerprints"),
          TextStats.langId(col("text")).as("lang_pred")),
      Some("""WITH g AS (
             |  SELECT doc_id, text,
             |         list_transform(generate_series(1, greatest(length(text) - 7, 0)), i ->
             |           CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)) AS grams,
             |         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS toks
             |    FROM documents),
             |f AS (
             |  SELECT doc_id, text, toks,
             |         CASE WHEN len(grams) = 0 THEN 0
             |              WHEN len(grams) <= 4 THEN len(list_distinct(grams))
             |              ELSE len(list_distinct(list_transform(
             |                     generate_series(1, len(grams) - 3), s2 ->
             |                       list_min(grams[s2 : s2 + 3])))) END AS n_fingerprints,
             |         length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS total,
             |         len(regexp_extract_all(text, '[一-鿿]')) AS han
             |    FROM g),
             |sc AS (
             |  SELECT doc_id, n_fingerprints, text, total, han,
             |         len(list_filter(toks, x -> list_contains(
             |           ['der','die','und','das','von','zu','mit','den','ist','im','ein','nicht'], x))) AS s_de,
             |         len(list_filter(toks, x -> list_contains(
             |           ['the','and','of','to','in','is','that','it','was','for','a','with'], x))) AS s_en,
             |         len(list_filter(toks, x -> list_contains(
             |           ['el','la','de','que','y','en','un','los','se','del','las','por'], x))) AS s_es,
             |         len(list_filter(toks, x -> list_contains(
             |           ['le','la','de','et','les','des','en','un','du','que','est','pour'], x))) AS s_fr
             |    FROM f)
             |SELECT doc_id, CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
             |       CASE WHEN text IS NULL THEN NULL
             |            WHEN length(text) = 0 THEN 'und'
             |            WHEN total > 0 AND han * 10 >= total * 3 THEN 'zh'
             |            WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             |            WHEN s_de >= greatest(s_en, s_es, s_fr) THEN 'de'
             |            WHEN s_en >= greatest(s_es, s_fr) THEN 'en'
             |            WHEN s_es >= s_fr THEN 'es'
             |            ELSE 'fr' END AS lang_pred
             |  FROM sc""".stripMargin)),

    // Multimodal plumbing: binary payloads + partition-batched feature
    // extraction (decode step stubbed — see Multimodal.fakeDecode).
    QueryDef(
      "l08_multimodal",
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
        Multimodal.extractFeatures(media).select("media_id", "kind", "n_bytes")
      },
      Some("""SELECT doc_id AS media_id,
             |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
             |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
             |  FROM documents""".stripMargin)),

    // Embedding cosine near-dup, exact within a blocking key (label) —
    // deterministic, oracle-checkable; the LSH variant (scale path) is
    // l10.
    QueryDef(
      "l09_cosine_neardup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.blockedNearDupPairs(emb, "label", 0.3)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      },
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |       ROUND(${duckDot("a.embedding", "b.embedding")} /
              |         (sqrt(${duckDot("a.embedding", "a.embedding")}) *
              |          sqrt(${duckDot("b.embedding", "b.embedding")})), 6) AS cos
              |  FROM embeddings a JOIN embeddings b
              |    ON a.label = b.label AND a.vec_id < b.vec_id
              | WHERE ${duckDot("a.embedding", "b.embedding")} /
              |       (sqrt(${duckDot("a.embedding", "a.embedding")}) *
              |        sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.3""".stripMargin)),

    // LSH-bucketed ANN near-dup (the 100 TB path: shuffle on bucket key
    // only). The hyperplanes are deterministic splitmix64-derived
    // constants, so the oracle SQL inlines the identical plane matrix
    // and re-derives every bucket, candidate pair, and cosine with the
    // same left-fold arithmetic — an exact check of the probabilistic
    // pipeline, not just its verified output. Recall vs brute force is
    // additionally asserted in LlmOpsSpec.
    QueryDef(
      "l10_lsh_neardup",
      (s, d) =>
        Similarity.lshNearDupPairs(Tables.embeddings(s, d), dim = 64,
          nBits = 10, nTables = 4, threshold = 0.3)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos")),
      Some(l10Oracle)),

    // Near-dup cluster formation: deterministic candidate pairs
    // (consecutive-id 5-gram jaccard >= 0.2, the l02 kernel) →
    // distributed connected components → (doc, component = min id).
    // Oracle: linear gaps-and-islands over the same pair set (edges
    // are exactly (i, i+1), so components are runs — the recursive
    // closure this replaces was quadratic in component size).
    QueryDef(
      "l12_dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = docs.select((col("doc_id") - 1).as("id_a"),
          col("text").as("text_b"), col("doc_id").as("id_b"))
        val pairs = a.join(b, "id_a")
          .filter(Dedup.ngramJaccard(col("text_a"), col("text_b"), 5) >= 0.2)
          .select(col("id_a"), col("id_b"))
        Dedup.connectedComponents(pairs)
      },
      Some(s"""WITH ${duckConsecCompCtes(0.2)}
              |SELECT id, component FROM comp""".stripMargin)),

    // IVF ANN top-k, probed exhaustively (nProbe = nLists) so the
    // result is provably identical to brute force → the IVF plumbing
    // (k-means training pass, list assignment, probe join, per-query
    // top-k) gets a real DuckDB oracle. The approximate configuration
    // (nProbe < nLists) is recall-tested in LlmOpsSpec.
    QueryDef(
      "l11_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), dim = 64,
          k = 5, nLists = 8, nProbe = 8, iters = 2)
          .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
      },
      Some(s"""WITH pairs AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
              |         ${duckDot("c.embedding", "q.embedding")} /
              |           (sqrt(${duckDot("c.embedding", "c.embedding")}) *
              |            sqrt(${duckDot("q.embedding", "q.embedding")})) AS cos
              |    FROM embeddings c, embeddings q
              |   WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
              |ranked AS (
              |  SELECT query_id, vec_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              |    FROM pairs)
              |SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank
              |  FROM ranked WHERE rank <= 5""".stripMargin)),

    // Deterministic hash sampling (reproducible across engines/runs:
    // md5-bucket < rate, a pure map-side filter) — the dataset-mixing
    // primitive. Oracle computes the identical md5 arithmetic.
    QueryDef(
      "l13_hash_sample",
      (s, d) =>
        graft.ops.Sampling.hashSample(Tables.documents(s, d), "text", 0.3)
          .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
             | WHERE COALESCE(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000, 0) < 3000""".stripMargin)),

    // Stratified mixing: per-source rates in one WHERE clause (no join,
    // no shuffle) — e.g. upsample curated sources, downsample crawl.
    QueryDef(
      "l14_stratified_mix",
      (s, d) =>
        graft.ops.Sampling.stratifiedHashSample(Tables.documents(s, d),
          "text", "source", Map("src0" -> 0.9, "src1" -> 0.2), defaultRate = 0.5)
          .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM documents
             | WHERE COALESCE(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000, 0) <
             |       CASE source WHEN 'src1' THEN 2000 WHEN 'src0' THEN 9000 ELSE 5000 END""".stripMargin)),

    // Int8 embedding quantization: per-vector max|x|/127 scaling with
    // floor-based codes — reconstruction error bounded by scale/2.
    // Oracle replicates the identical IEEE arithmetic in DuckDB.
    QueryDef(
      "l15_quantize_int8",
      (s, d) => {
        // max_err computed BEFORE the projection that aliases a rounded
        // q_scale: in one select list, col("q_scale") would bind to the
        // earlier LATERAL alias (the rounded value), silently
        // contaminating the reconstruction arithmetic.
        val q = Similarity.quantizeInt8(Tables.embeddings(s, d))
          .withColumn("max_err_raw", aggregate(
            zip_with(col("embedding"),
              Similarity.dequantizeInt8(col("q"), col("q_scale")),
              (x, y) => abs(x.cast("double") - y)),
            lit(0.0), (a, v) => greatest(a, v)))
        q.select(col("vec_id"),
          round(col("q_scale"), 6).as("q_scale"),
          round(col("max_err_raw"), 6).as("max_err"))
      },
      Some("""WITH t AS (
             |  SELECT vec_id, embedding,
             |         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
             |                     (a, b) -> greatest(a, b)) / 127.0 AS s
             |    FROM embeddings)
             |SELECT vec_id, ROUND(s, 6) AS q_scale,
             |       ROUND(list_reduce(list_transform(embedding, x ->
             |               abs(CAST(x AS DOUBLE) -
             |                   CASE WHEN s = 0 THEN 0.0
             |                        ELSE floor(CAST(x AS DOUBLE) / s + 0.5) * s END)),
             |             (a, b) -> greatest(a, b)), 6) AS max_err
             |  FROM t""".stripMargin)),

    // Two-stage ANN first pass: top-k by INTEGER dot product of the
    // l15 int8 codes — exact in both engines (quantization arithmetic
    // proven exact by l15, ranking is integer compares + vec_id ties).
    QueryDef(
      "l16_quantized_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), 5)
      },
      Some(s"""WITH $duckQuantCtes,
              |ranked AS (
              |  SELECT query_id, vec_id, qdot,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS rank
              |    FROM qpairs)
              |SELECT query_id, vec_id, qdot, rank FROM ranked WHERE rank <= 5""".stripMargin)),

    // Two-stage ANN end-to-end: quantized integer top-20 candidates,
    // exact cosine re-rank to top-5. Both stages deterministic → the
    // oracle re-derives the full composition.
    QueryDef(
      "l17_two_stage_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.rerankedTopK(emb, emb.filter(col("vec_id") < 10), k = 5, m = 20)
          .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
      },
      Some(s"""WITH $duckQuantCtes,
              |cand AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS qrank
              |      FROM qpairs) WHERE qrank <= 20),
              |exact AS (
              |  SELECT cand.query_id, cand.vec_id,
              |         ${duckDot("c.embedding", "q.embedding")} /
              |           (sqrt(${duckDot("c.embedding", "c.embedding")}) *
              |            sqrt(${duckDot("q.embedding", "q.embedding")})) AS cos
              |    FROM cand
              |    JOIN embeddings c ON c.vec_id = cand.vec_id
              |    JOIN embeddings q ON q.vec_id = cand.query_id),
              |ranked AS (
              |  SELECT query_id, vec_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              |    FROM exact)
              |SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank
              |  FROM ranked WHERE rank <= 5""".stripMargin)),

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1 adapted
    // to word n-grams): top-bigram/trigram fraction + duplicate-5-gram
    // fraction. Map-only column expressions — no shuffle at any corpus
    // size; the oracle re-derives every ratio with DuckDB list
    // functions.
    QueryDef(
      "l18_repetition_signals",
      (s, d) =>
        TextStats.repetitionReport(Tables.documents(s, d), "doc_id", "text"),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS words
             |    FROM documents),
             |g AS (
             |  SELECT doc_id, words,
             |         CASE WHEN len(words) < 2 THEN CAST([] AS VARCHAR[])
             |              ELSE list_transform(generate_series(1, len(words) - 1),
             |                     i -> array_to_string(words[i:i+1], ' ')) END AS g2,
             |         CASE WHEN len(words) < 3 THEN CAST([] AS VARCHAR[])
             |              ELSE list_transform(generate_series(1, len(words) - 2),
             |                     i -> array_to_string(words[i:i+2], ' ')) END AS g3,
             |         CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
             |              ELSE list_transform(generate_series(1, len(words) - 4),
             |                     i -> array_to_string(words[i:i+4], ' ')) END AS g5
             |    FROM w)
             |SELECT doc_id,
             |       CAST(len(words) AS BIGINT) AS n_words,
             |       ROUND(CASE WHEN len(g2) = 0 THEN 0.0
             |                  ELSE CAST(list_max(list_transform(list_distinct(g2),
             |                         b -> len(list_filter(g2, x -> x = b)))) AS DOUBLE)
             |                       / len(g2) END, 6) AS top_bigram_ratio,
             |       ROUND(CASE WHEN len(g3) = 0 THEN 0.0
             |                  ELSE CAST(list_max(list_transform(list_distinct(g3),
             |                         b -> len(list_filter(g3, x -> x = b)))) AS DOUBLE)
             |                       / len(g3) END, 6) AS top_trigram_ratio,
             |       ROUND(CASE WHEN len(g5) = 0 THEN 0.0
             |                  ELSE 1.0 - CAST(len(list_distinct(g5)) AS DOUBLE)
             |                             / len(g5) END, 6) AS dup_5gram_ratio
             |  FROM g""".stripMargin)),

    // PII scrub: email / IPv4 / phone redaction to typed placeholders.
    // The synthetic corpus has no PII, so both sides append the SAME
    // deterministic doc_id-derived contact block before redacting —
    // every pattern is exercised on every row, and the oracle applies
    // the identical regexes (ASCII-only constructs, equal semantics in
    // Java regex and RE2).
    QueryDef(
      "l19_pii_redaction",
      (s, d) => {
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-0199."))
        Tables.documents(s, d).select(
          col("doc_id"),
          TextStats.redactPii(pii).as("redacted"),
          regexp_count(pii, lit(TextStats.EmailPattern)).cast("long").as("n_emails"),
          regexp_count(pii, lit(TextStats.Ipv4Pattern)).cast("long").as("n_ips"),
          regexp_count(pii, lit(TextStats.PhonePattern)).cast("long").as("n_phones"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |         text || ' contact user' || doc_id || '@example.com from 10.0.'
             |              || (doc_id % 256) || '.7 call 555-'
             |              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199.' AS t
             |    FROM documents)
             |SELECT doc_id,
             |       regexp_replace(regexp_replace(regexp_replace(t,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             |         '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted,
             |       CAST(len(regexp_extract_all(t,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(t,
             |         '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
             |       CAST(len(regexp_extract_all(t,
             |         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
             |  FROM p""".stripMargin)),

    // Semantic dedup end-to-end (SemDeDup, Abbas et al. 2023): cosine
    // near-dup pairs over embeddings → connected components → keep one
    // representative (min id) per cluster; singletons keep themselves.
    // Composition of the l09 pair generator and the l12 clustering —
    // the full "which rows survive" decision a curation pipeline ships.
    QueryDef(
      "l20_semantic_dedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.blockedNearDupPairs(emb, "label", 0.3)
          .select(col("id_a"), col("id_b"))
        val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "vec_id")
        emb.select(col("vec_id"))
          .join(cc, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("vec_id")).as("component"),
            (coalesce(col("component"), col("vec_id")) === col("vec_id")).as("keep"))
      },
      Some(s"""WITH RECURSIVE pairs AS MATERIALIZED (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |    FROM embeddings a JOIN embeddings b
              |      ON a.label = b.label AND a.vec_id < b.vec_id
              |   WHERE ${duckDot("a.embedding", "b.embedding")} /
              |         (sqrt(${duckDot("a.embedding", "a.embedding")}) *
              |          sqrt(${duckDot("b.embedding", "b.embedding")})) >= 0.3),
              |edges AS MATERIALIZED (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT src AS id, src AS r FROM edges
              |  UNION
              |  SELECT e.src, t.r FROM edges e JOIN reach t ON e.dst = t.id),
              |cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
              |SELECT e.vec_id,
              |       COALESCE(cc.component, e.vec_id) AS component,
              |       COALESCE(cc.component, e.vec_id) = e.vec_id AS keep
              |  FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id""".stripMargin)),

    // REAL image decode end-to-end: one small PNG per documents row
    // (generative pixel formula) is ENCODED with ImageIO on the Spark
    // side, decoded back by kernel/ImageCodec inside extractFeatures,
    // and the oracle re-derives width/height/channel-means from the
    // formula alone in pure SQL — DuckDB never sees a PNG, so any
    // codec defect (dimension swap, channel order, color-space drift)
    // breaks the hash compare. PNG losslessness is what makes the
    // equality exact.
    QueryDef(
      "l21_image_decode",
      (s, d) => {
        val media = Multimodal.syntheticImages(Tables.documents(s, d), 200)
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("width"), col("height"),
            round(col("mean_r"), 6).as("mean_r"),
            round(col("mean_g"), 6).as("mean_g"),
            round(col("mean_b"), 6).as("mean_b"))
      },
      Some("""WITH imgs AS (
             |  SELECT doc_id AS media_id,
             |         CAST(2 + doc_id % 7 AS INTEGER) AS width,
             |         CAST(2 + doc_id % 5 AS INTEGER) AS height
             |    FROM documents WHERE doc_id < 200),
             |m AS (
             |  SELECT media_id, width, height,
             |         flatten(list_transform(generate_series(0, width - 1), x ->
             |           list_transform(generate_series(0, height - 1), y ->
             |             [(media_id * 7 + x * 13 + y * 31) % 256,
             |              (media_id * 11 + x * 17 + y * 5) % 256,
             |              (media_id * 3 + x * 29 + y * 23) % 256]))) AS px
             |    FROM imgs)
             |SELECT media_id, width, height,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[1])) AS DOUBLE)
             |             / (width * height), 6) AS mean_r,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[2])) AS DOUBLE)
             |             / (width * height), 6) AS mean_g,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[3])) AS DOUBLE)
             |             / (width * height), 6) AS mean_b
             |  FROM m""".stripMargin)),

    // REAL audio decode end-to-end: one short WAV per documents row
    // (generative 16-bit PCM formula) is ENCODED with
    // javax.sound.sampled on the Spark side, decoded back by
    // kernel/AudioCodec inside extractFeatures, and the oracle
    // re-derives format + exact sample statistics from the formula
    // alone in pure SQL — DuckDB never sees a WAV, so any codec defect
    // (endianness, channel interleave, header/frame-count drift)
    // breaks the hash compare. PCM losslessness makes equality exact.
    QueryDef(
      "l22_audio_decode",
      (s, d) => {
        val media = Multimodal.syntheticAudio(Tables.documents(s, d), 200)
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("channels"), col("sample_rate"),
            col("n_frames"), col("duration_ms"),
            round(col("mean_amp"), 6).as("mean_amp"), col("peak_abs"))
      },
      Some("""WITH auds AS (
             |  SELECT doc_id AS media_id,
             |         CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             |         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
             |         CAST(40 + doc_id % 25 AS BIGINT) AS n_frames
             |    FROM documents WHERE doc_id < 200),
             |m AS (
             |  SELECT media_id, channels, sample_rate, n_frames,
             |         flatten(list_transform(generate_series(0, channels - 1), c ->
             |           list_transform(generate_series(0, CAST(n_frames AS INTEGER) - 1), t ->
             |             ((media_id * 7919 + c * 104729 + t * 1299721) % 65536) - 32768))) AS s
             |    FROM auds)
             |SELECT media_id, channels, sample_rate, n_frames,
             |       (n_frames * 1000) // sample_rate AS duration_ms,
             |       ROUND(CAST(list_sum(s) AS DOUBLE) / (channels * n_frames), 6) AS mean_amp,
             |       CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak_abs
             |  FROM m""".stripMargin)),

    // Benchmark decontamination (GPT-3/Pile-style word-n-gram overlap):
    // benchmark set = every 23rd document, corpus = all documents;
    // output = contaminated docs with their leaked-gram counts. n=8 so
    // every sf doc (min 10 tokens) contributes windows. The oracle
    // re-derives tokens (shared WsChars class), every space-joined
    // 8-gram window, and the md5-prefix fingerprint — an exact
    // cross-engine check of tokenizer, windowing, hash, join, and
    // count. Scale shape documented at ops/Decontaminate.scala.
    QueryDef(
      "l23_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontaminate.decontaminate(docs,
          docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", n = 8)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, ts,
             |         unnest(generate_series(1, len(ts) - 7)) AS i
             |    FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15))
             |              AS BIGINT) AS fp
             |    FROM win),
             |bench AS (
             |  SELECT DISTINCT fp FROM grams WHERE doc_id % 23 = 0)
             |SELECT g.doc_id, COUNT(*) AS n_leaked_ngrams
             |  FROM grams g JOIN bench b USING (fp)
             | GROUP BY g.doc_id""".stripMargin)),

    // C4-style boilerplate saturation: trigrams seen in ≥3 distinct
    // docs are "boilerplate"; per doc, the fraction of its distinct
    // trigrams that are boilerplate. Oracle re-derives tokenization
    // (shared WsChars class), per-doc-distinct windows, the df
    // aggregate, and the left-join ratio — n=3/minDocs=3 chosen so
    // the sf corpus yields a dense, non-degenerate distribution
    // (~2.3k boilerplate grams at sf0.01). Scale shape documented at
    // ops/CorpusStats.scala (wordcount agg + broadcastable block-list).
    QueryDef(
      "l24_boilerplate",
      (s, d) => CorpusStats.boilerplateRatio(
        Tables.documents(s, d), "doc_id", "text", n = 3, minDocs = 3),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, ts,
             |         unnest(generate_series(1, len(ts) - 2)) AS i
             |    FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS ngram
             |    FROM win),
             |boiler AS (
             |  SELECT ngram, 1 AS is_boiler FROM grams
             |   GROUP BY ngram HAVING COUNT(*) >= 3)
             |SELECT g.doc_id, COUNT(*) AS n_grams,
             |       CAST(SUM(COALESCE(is_boiler, 0)) AS BIGINT) AS n_boiler,
             |       CAST(SUM(COALESCE(is_boiler, 0)) AS DOUBLE) / COUNT(*)
             |         AS boilerplate_ratio
             |  FROM grams g LEFT JOIN boiler b USING (ngram)
             | GROUP BY g.doc_id""".stripMargin)),

    // Vocabulary / Zipf table for tokenizer prep: per lowercased
    // whitespace token, total count, doc frequency, and fraction of
    // all corpus tokens. The corpus total is a broadcast 1-row agg —
    // the oracle's scalar subquery — never a collect.
    QueryDef(
      "l25_vocab_stats",
      (s, d) => CorpusStats.vocabStats(Tables.documents(s, d), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(
             |           list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
             |                       x -> len(x) > 0)) AS word
             |    FROM documents)
             |SELECT word, COUNT(*) AS n_total,
             |       COUNT(DISTINCT doc_id) AS n_docs,
             |       CAST(COUNT(*) AS DOUBLE)
             |         / (SELECT COUNT(*) FROM toks) AS token_frac
             |  FROM toks GROUP BY word""".stripMargin)),

    // 2H: the streaming windowed aggregation run in BATCH mode over the
    // events table — the SAME EventStreams.windowedTypeCounts function
    // EventStreamsSpec drives with a MemoryStream (withWatermark is a
    // no-op on a static frame).
    QueryDef(
      "h01_event_windows",
      (s, d) =>
        graft.streaming.EventStreams.windowedTypeCounts(Tables.events(s, d), "1 day")
          // window_start as text: parquet timestamp precision differs
          // between engines (ns vs us) — a strict byte compare would flag
          // equal instants as different; the formatted string is exact.
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
              .as("window_start"),
            col("event_type"), col("n"), col("total_value")),
      Some("""SELECT strftime(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)),
             |                '%Y-%m-%d %H:%M:%S') AS window_start,
             |       event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
             |  FROM events GROUP BY 1, 2""".stripMargin)),

    // 2H: event-time sessionization in BATCH mode via Spark's native
    // session_window (30-minute inactivity gap, half-open: an event at
    // exactly start+gap opens a new session). One shuffle on user_id;
    // at 100 TB this is the same plan with more partitions. Oracle:
    // independent gaps-and-islands derivation in DuckDB.
    QueryDef(
      "h02_session_window",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100, 0).cast("long")).cast("double") / 100.0)
              .as("session_value"))
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            col("n_events"), col("session_value")),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
             |flag AS (
             |  SELECT user_id, ts, value,
             |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |                   < INTERVAL 30 MINUTE
             |              THEN 0 ELSE 1 END AS is_new
             |    FROM e),
             |isl AS (
             |  SELECT user_id, ts, value,
             |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |             ROWS UNBOUNDED PRECEDING) AS sid
             |    FROM flag)
             |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       COUNT(*) AS n_events,
             |       CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS DOUBLE) / 100.0
             |         AS session_value
             |  FROM isl GROUP BY user_id, sid""".stripMargin)),

    // 2H: stream-stream event-time interval join run in BATCH mode —
    // the SAME EventStreams.intervalJoinPairs function the streaming
    // spec drives with watermarked MemoryStreams (withWatermark is a
    // no-op on a static frame). Epoch-micros integer comparisons on
    // both engines, so the pair set and lags match exactly.
    QueryDef(
      "h03_interval_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        def side(t: String) = ev.filter(col("event_type") === t)
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.streaming.EventStreams.intervalJoinPairs(
          side("click"), side("error"), gapSeconds = 300L)
      },
      Some("""SELECT c.event_id AS click_id, e.event_id AS err_id,
             |       epoch_us(e.ts) - epoch_us(c.ts) AS lag_us
             |  FROM events c JOIN events e
             |    ON c.user_id = e.user_id
             |   AND epoch_us(e.ts) >= epoch_us(c.ts)
             |   AND epoch_us(e.ts) < epoch_us(c.ts) + 300000000
             | WHERE c.event_type = 'click' AND e.event_type = 'error'""".stripMargin)),

    // 2H: streaming exact-ID dedup run in BATCH mode — the SAME
    // EventStreams.dedupeWithinWatermark function EventStreamsSpec
    // drives with a MemoryStream (on a static frame it is
    // dropDuplicates). A %7 slice of
    // the feed is replayed (identical rows — the close-in-time
    // duplicate arrivals the watermark horizon is sized for), then
    // per-day windows report total vs surviving-unique counts.
    // The dedup keeps an arbitrary row per key, but duplicates
    // are exact copies, so every surviving (event_id, ts) — and hence
    // the window assignment — is deterministic.
    QueryDef(
      "h08_stream_dedup_rate",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_id"), col("ts"))
        val feed = ev.unionAll(ev.filter(pmod(col("event_id"), lit(7)) === 0))
        val totals = feed.groupBy(window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).as("n_total"))
        val uniq = graft.streaming.EventStreams
          .dedupeWithinWatermark(feed, Seq("event_id"))
          .groupBy(window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).as("n_unique"))
        totals.join(uniq, "w")
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
              .as("window_start"),
            col("n_total"), col("n_unique"))
      },
      Some("""WITH feed AS (
             |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
             |  UNION ALL
             |  SELECT event_id, CAST(ts AS TIMESTAMP) FROM events WHERE event_id % 7 = 0)
             |SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d %H:%M:%S')
             |         AS window_start,
             |       COUNT(*) AS n_total,
             |       COUNT(DISTINCT event_id) AS n_unique
             |  FROM feed GROUP BY 1""".stripMargin)),

    // Mergeable theta (KMV) distinct sketches — kernel/Sketches.scala.
    // All four sketch queries run in the UNSATURATED regime (distinct
    // values < k), where the sketch algebra is EXACT by construction,
    // so plain COUNT(DISTINCT) SQL is a true oracle; the saturated
    // (approximate) regime is property-tested in SketchesSpec. The
    // per-input-row path is a TypedImperativeAggregate with partial
    // (map-side) aggregation — only O(k) serialized state shuffles.
    QueryDef(
      "l26_theta_users",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(Sketches.thetaEstimate(Sketches.thetaSketch(col("user_id"), 8192))
            .cast("long").as("n_users")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
             |  FROM events GROUP BY event_type""".stripMargin)),

    // The save-state-and-re-merge workflow: per-day sketches (what a
    // 100 TB pipeline would persist next to each day's partition) are
    // UNIONED into a global distinct count without rescanning events.
    QueryDef(
      "l27_theta_union",
      (s, d) => {
        val perDay = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(Sketches.thetaSketch(col("user_id"), 8192).as("sk"))
        perDay.agg(
          count(lit(1)).as("n_days"),
          Sketches.thetaEstimate(Sketches.thetaUnion(col("sk"), 8192))
            .cast("long").as("n_users"))
      },
      Some("""SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
             |       COUNT(DISTINCT user_id) AS n_users FROM events""".stripMargin)),

    // Sketch set INTERSECTION — the operation COUNT(DISTINCT) cannot
    // provide without joining raw data: users who both clicked and
    // purchased, from two kilobyte sketches.
    QueryDef(
      "l28_theta_intersect",
      (s, d) => {
        val sk = Tables.events(s, d).agg(
          Sketches.thetaSketch(
            when(col("event_type") === "click", col("user_id")), 8192).as("clicks"),
          Sketches.thetaSketch(
            when(col("event_type") === "purchase", col("user_id")), 8192).as("purchases"))
        sk.select(Sketches.thetaIntersect(col("clicks"), col("purchases"))
          .cast("long").as("n_both"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM (
             |  SELECT user_id FROM events WHERE event_type = 'click'
             |  INTERSECT
             |  SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin)),

    // Misra-Gries heavy hitters over the corpus token stream (k=64 >=
    // vocabulary size here -> exact; count_min = count_max proves no
    // decrement fired). Tokenization = TextKernel.tokens, the l25
    // convention, re-derived in the oracle with the shared WsChars
    // class.
    QueryDef(
      "l29_freq_tokens",
      (s, d) => {
        val toks = udf((t: String) => graft.kernel.TextKernel.tokens(t))
        Tables.documents(s, d)
          .select(explode(toks(col("text"))).as("word"))
          .agg(Sketches.freqItems(col("word"), 64).as("fi"))
          .selectExpr("inline(fi)")
          .select(col("item").as("word"), col("count_min").as("n_min"),
            col("count_max").as("n_max"))
      },
      Some(s"""WITH toks AS (
             |  SELECT unnest(
             |           list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                       x -> len(x) > 0)) AS word
             |    FROM documents)
             |SELECT word, COUNT(*) AS n_min, COUNT(*) AS n_max
             |  FROM toks GROUP BY word""".stripMargin)),

    // KLL quantile sketch, per-group regime: document-length
    // distribution per language from one O(k)-state mergeable
    // aggregate — the shape a 100 TB pipeline uses for length/score
    // distribution tables without a per-group sort. Exact while each
    // group holds <= k values (sf0.01: max group 218 << 1024), which
    // is what the oracle pins: quantile(q) = quantile_disc's
    // sorted[ceil(q*n)-1] element exactly.
    QueryDef(
      "l30_kll_quantiles",
      (s, d) => {
        val sk = Sketches.kllSketch(col("n_chars"), 1024)
        // doc_id < 2000 bounds every lang group well under k=1024, so
        // the exact-regime contract the oracle pins holds at ANY sf
        // dir this registration is run at (the sf0.1 sweep caught the
        // unbounded form leaving the exact regime); the approximate
        // regime's error bounds are SketchesSpec's job
        Tables.documents(s, d)
          .filter(col("doc_id") < 2000)
          .groupBy(col("lang"))
          .agg(sk.as("sk"))
          .select(col("lang"),
            Sketches.kllN(col("sk")).as("n_docs"),
            Sketches.kllQuantile(col("sk"), lit(0.25)).cast("long").as("p25"),
            Sketches.kllQuantile(col("sk"), lit(0.5)).cast("long").as("p50"),
            Sketches.kllQuantile(col("sk"), lit(0.75)).cast("long").as("p75"),
            Sketches.kllQuantile(col("sk"), lit(0.9)).cast("long").as("p90"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |       CAST(quantile_disc(n_chars, 0.25) AS BIGINT) AS p25,
             |       CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS p50,
             |       CAST(quantile_disc(n_chars, 0.75) AS BIGINT) AS p75,
             |       CAST(quantile_disc(n_chars, 0.90) AS BIGINT) AS p90
             |  FROM documents WHERE doc_id < 2000 GROUP BY lang""".stripMargin)),

    // The save-state-and-re-merge half: per-source KLL sketches (what
    // each ingest shard would persist) merged into the global length
    // distribution without rescanning documents — kll_merge over
    // serialized states only.
    QueryDef(
      "l31_kll_merge",
      (s, d) => {
        val perSource = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(Sketches.kllSketch(col("n_chars"), 1024).as("sk"))
        perSource.agg(
          count(lit(1)).as("n_sources"),
          Sketches.kllMerge(col("sk"), 1024).as("merged"))
          .select(col("n_sources"),
            Sketches.kllN(col("merged")).as("n_docs"),
            Sketches.kllQuantile(col("merged"), lit(0.5)).cast("long").as("p50"),
            Sketches.kllQuantile(col("merged"), lit(0.9)).cast("long").as("p90"))
      },
      Some("""SELECT COUNT(DISTINCT source) AS n_sources,
             |       COUNT(*) AS n_docs,
             |       CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50,
             |       CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90
             |  FROM documents""".stripMargin)),

    // Line-level corpus dedup (CCNet / RefinedWeb line removal). The
    // sf corpus is single-line, so — same generative-oracle pattern as
    // l19/l21/l22 — both engines first build an identical multi-line
    // corpus from documents (shared header/footer lines with high doc
    // frequency, an md5 unique line, a blank line, a paired 'mid'
    // line), then the Spark side runs the production dedupLines
    // pipeline while the oracle re-derives split/df/anti-join/
    // reassembly in pure SQL. Any drift in line splitting, blank-line
    // convention, df counting, or order-preserving reassembly breaks
    // the hash.
    QueryDef(
      "l32_line_dedup",
      (s, d) => {
        val docs2 = Tables.documents(s, d).select(col("doc_id"),
          concat(
            lit("header "), col("doc_id") % 7,
            lit("\nuniq "), md5(col("doc_id").cast("string")),
            lit("\n\nmid "), col("doc_id") % 250,
            lit("\nfooter "), col("doc_id") % 3).as("text"))
        CorpusStats.dedupLines(docs2, "doc_id", "text", minDocs = 3)
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |         'header ' || (doc_id % 7) || chr(10) ||
             |         'uniq ' || md5(CAST(doc_id AS VARCHAR)) || chr(10) || chr(10) ||
             |         'mid ' || (doc_id % 250) || chr(10) ||
             |         'footer ' || (doc_id % 3) AS text
             |    FROM documents),
             |exploded AS (
             |  SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
             |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src)),
             |lines AS (
             |  SELECT doc_id, i AS line_idx, ls[i] AS line, trim(ls[i]) AS key
             |    FROM exploded),
             |common AS (
             |  SELECT key
             |    FROM (SELECT DISTINCT doc_id, key FROM lines WHERE key <> '')
             |   GROUP BY key HAVING COUNT(*) >= 3),
             |kept AS (
             |  SELECT * FROM lines WHERE key NOT IN (SELECT key FROM common)),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_kept,
             |         array_to_string(list(line ORDER BY line_idx), chr(10)) AS clean_text
             |    FROM kept GROUP BY doc_id)
             |SELECT s.doc_id,
             |       len(string_split(s.text, chr(10))) AS n_lines,
             |       len(string_split(s.text, chr(10))) - COALESCE(a.n_kept, 0) AS n_removed,
             |       COALESCE(a.clean_text, '') AS clean_text
             |  FROM src s LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Bloom-prefiltered decontamination: same contract as l23 but the
    // benchmark fingerprints reach the corpus as a broadcast Bloom
    // filter applied map-side, with an exact verify join after — the
    // shape for benchmark sets too large to broadcast exactly. The
    // oracle is the EXACT overlap (the bloom must only prune, never
    // decide), over a different benchmark slice and gram width than
    // l23 so the two queries cannot satisfy each other by accident.
    QueryDef(
      "l33_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontaminate.decontaminateBloom(docs,
          docs.filter(col("doc_id") % 17 === 0), "doc_id", "text",
          n = 6, fpp = 0.01)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, ts,
             |         unnest(generate_series(1, len(ts) - 5)) AS i
             |    FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i:i+5], ' ')), 1, 15))
             |              AS BIGINT) AS fp
             |    FROM win),
             |bench AS (
             |  SELECT DISTINCT fp FROM grams WHERE doc_id % 17 = 0)
             |SELECT g.doc_id, COUNT(*) AS n_leaked_ngrams
             |  FROM grams g JOIN bench b USING (fp)
             | GROUP BY g.doc_id""".stripMargin)),

    // URL canonicalization + registrable-domain extraction. The sf
    // corpus has no URL column, so both engines synthesize the same
    // adversarial URL per doc (mixed-case scheme/host, default and
    // non-default ports, tracking + content query params, fragment) —
    // the Spark side then runs the production UrlKernel parser while
    // the oracle re-derives the EXPECTED canonical form and domain
    // from the generative formula, never from a second parser (the
    // l21/l22 pattern). Any normalize/host/suffix defect breaks the
    // hash.
    QueryDef(
      "l34_url_normalize",
      (s, d) => {
        val withUrl = Tables.documents(s, d).select(col("doc_id"),
          expr("""CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END
                 || '://WWW.Site' || (doc_id % 41)
                 || CASE doc_id % 4 WHEN 0 THEN '.Example.COM' WHEN 1 THEN '.shop.co.uk'
                                    WHEN 2 THEN '.Data' || (doc_id % 11) || '.io'
                                    ELSE '.news' || (doc_id % 13) || '.org' END
                 || CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE ':8080' END
                 || '/Page/' || doc_id
                 || '?utm_source=feed&id=' || (doc_id % 13) || '&fbclid=xyz'
                 || '#sec' || (doc_id % 5)""").as("url"))
        UrlOps.withUrlColumns(withUrl, "url")
          .select("doc_id", "url", "norm_url", "host", "domain")
      },
      Some("""SELECT doc_id,
             |       CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END
             |       || '://WWW.Site' || (doc_id % 41)
             |       || CASE doc_id % 4 WHEN 0 THEN '.Example.COM' WHEN 1 THEN '.shop.co.uk'
             |                          WHEN 2 THEN '.Data' || (doc_id % 11) || '.io'
             |                          ELSE '.news' || (doc_id % 13) || '.org' END
             |       || CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE ':8080' END
             |       || '/Page/' || doc_id
             |       || '?utm_source=feed&id=' || (doc_id % 13) || '&fbclid=xyz'
             |       || '#sec' || (doc_id % 5) AS url,
             |       CASE doc_id % 3 WHEN 0 THEN 'http' ELSE 'https' END
             |       || '://www.site' || (doc_id % 41)
             |       || CASE doc_id % 4 WHEN 0 THEN '.example.com' WHEN 1 THEN '.shop.co.uk'
             |                          WHEN 2 THEN '.data' || (doc_id % 11) || '.io'
             |                          ELSE '.news' || (doc_id % 13) || '.org' END
             |       || CASE doc_id % 3 WHEN 2 THEN ':8080' ELSE '' END
             |       || '/Page/' || doc_id || '?id=' || (doc_id % 13) AS norm_url,
             |       'www.site' || (doc_id % 41)
             |       || CASE doc_id % 4 WHEN 0 THEN '.example.com' WHEN 1 THEN '.shop.co.uk'
             |                          WHEN 2 THEN '.data' || (doc_id % 11) || '.io'
             |                          ELSE '.news' || (doc_id % 13) || '.org' END AS host,
             |       CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk'
             |                       WHEN 2 THEN 'data' || (doc_id % 11) || '.io'
             |                       ELSE 'news' || (doc_id % 13) || '.org' END AS domain
             |  FROM documents""".stripMargin)),

    // Per-domain document cap (SEO-farm guard): keep at most 3 docs
    // per registrable domain, chosen by md5-rank of the id — a
    // deterministic uniform per-domain sample both engines rank
    // identically. One PARTITIONED window over the domain key.
    QueryDef(
      "l35_domain_cap",
      (s, d) => {
        val withUrl = Tables.documents(s, d).select(col("doc_id"),
          expr("""'https://WWW.Site' || (doc_id % 41)
                 || CASE doc_id % 4 WHEN 0 THEN '.Example.COM' WHEN 1 THEN '.shop.co.uk'
                                    WHEN 2 THEN '.Data' || (doc_id % 11) || '.io'
                                    ELSE '.news' || (doc_id % 13) || '.org' END
                 || '/p/' || doc_id""").as("url"))
        UrlOps.capPerDomain(UrlOps.withUrlColumns(withUrl, "url"),
            "doc_id", maxPerDomain = 3)
          .select("domain", "doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |         CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk'
             |                         WHEN 2 THEN 'data' || (doc_id % 11) || '.io'
             |                         ELSE 'news' || (doc_id % 13) || '.org' END AS domain
             |    FROM documents),
             |r AS (
             |  SELECT domain, doc_id,
             |         row_number() OVER (PARTITION BY domain
             |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |    FROM u)
             |SELECT domain, doc_id FROM r WHERE rk <= 3""".stripMargin)),

    // Duplicated-span fraction (chunk-granular exact-substring dedup,
    // Lee et al. 2022): 5-token non-overlapping chunks, a chunk
    // instance is duplicated when its fingerprint appears in >= 2
    // distinct docs. Oracle re-derives tokenization (shared WsChars),
    // chunking arithmetic (inclusive DuckDB slices), md5-prefix
    // fingerprints, the distinct-doc df, and both counts.
    QueryDef(
      "l36_dup_spans",
      (s, d) => CorpusStats.dupChunkFraction(
        Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 5, minDocs = 2),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |chunks AS (
             |  SELECT doc_id, ts,
             |         unnest(generate_series(1, CAST(floor(len(ts) / 5.0) AS BIGINT))) AS i
             |    FROM toks),
             |fps AS (
             |  SELECT doc_id,
             |         CAST(('0x' || substr(md5(array_to_string(ts[(i-1)*5+1 : i*5], ' ')), 1, 15))
             |              AS BIGINT) AS fp
             |    FROM chunks),
             |dup AS (
             |  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM fps)
             |   GROUP BY fp HAVING COUNT(*) >= 2)
             |SELECT doc_id, COUNT(*) AS n_chunks,
             |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_dup_chunks,
             |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END) AS DOUBLE)
             |         / COUNT(*) AS dup_fraction
             |  FROM fps GROUP BY doc_id""".stripMargin)),

    // Character-entropy quality signal (codepoint Shannon entropy in
    // bits): near-zero flags repeated-char spam, ~4 is prose. The
    // oracle recomputes it with DuckDB's native base-2 entropy()
    // aggregate over per-codepoint rows — an INDEPENDENT formulation
    // (aggregate-over-rows vs kernel single pass) of the same
    // definition, so summation/log drift beyond 6dp would surface.
    QueryDef(
      "l37_char_entropy",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextStats.charEntropy(col("text")).as("char_entropy")),
      Some("""SELECT d.doc_id, COALESCE(e.h, 0.0) AS char_entropy
             |  FROM documents d
             |  LEFT JOIN (
             |    SELECT doc_id, entropy(c) AS h
             |      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
             |              FROM documents)
             |     GROUP BY doc_id) e USING (doc_id)""".stripMargin)),

    // Stupid-Backoff bigram LM quality scoring (the CCNet perplexity
    // filter): train on the md5-even half of the corpus (the l13 hash
    // family at rate 0.5 — deterministic, engine-neutral), score every
    // document's average per-transition log10 probability. The oracle
    // re-derives tokenization, the train split, both count tables,
    // N/V, and the exact backoff arithmetic; log10/AVG agree well
    // under the 6dp canonicalization.
    QueryDef(
      "l38_lm_score",
      (s, d) => {
        val docs = Tables.documents(s, d)
        LmScore.scoreStupidBackoff(docs,
          Sampling.hashSample(docs, "text", 0.5), "doc_id", "text")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |reft AS (
             |  SELECT ts FROM toks
             |   WHERE COALESCE(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000, 0) < 5000),
             |uni AS (
             |  SELECT w, COUNT(*) AS c1
             |    FROM (SELECT unnest(ts) AS w FROM reft) GROUP BY w),
             |stats AS (SELECT SUM(c1) AS n_tokens, COUNT(*) AS vocab FROM uni),
             |big AS (
             |  SELECT pr.prev AS prev, pr.w AS w, COUNT(*) AS c2
             |    FROM (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
             |                   i -> struct_pack(prev := ts[i], w := ts[i+1]))) AS pr
             |            FROM reft)
             |   GROUP BY 1, 2),
             |trans AS (
             |  SELECT doc_id, pr.prev AS prev, pr.w AS w
             |    FROM (SELECT doc_id,
             |                 unnest(list_transform(generate_series(1, len(ts) - 1),
             |                   i -> struct_pack(prev := ts[i], w := ts[i+1]))) AS pr
             |            FROM toks)),
             |scored AS (
             |  SELECT tr.doc_id,
             |         CASE WHEN b.c2 IS NOT NULL
             |              THEN log10(CAST(b.c2 AS DOUBLE) / up.c1)
             |              ELSE log10(0.4 * (COALESCE(uw.c1, 0) + 1) / (s.n_tokens + s.vocab)) END AS logp
             |    FROM trans tr
             |    LEFT JOIN big b ON b.prev = tr.prev AND b.w = tr.w
             |    LEFT JOIN uni up ON up.w = tr.prev
             |    LEFT JOIN uni uw ON uw.w = tr.w
             |    CROSS JOIN stats s)
             |SELECT doc_id, COUNT(*) AS n_trans, AVG(logp) AS avg_logprob
             |  FROM scored GROUP BY doc_id""".stripMargin)),

    // Deterministic sequence packing (concat-and-chunk, 512-token
    // packs over 8 bucket-sharded streams): per doc, the pack its
    // first token lands in and at what offset. The oracle re-derives
    // token counts, the md5 stream order, the bucket shard, and the
    // cumulative-sum arithmetic with a partitioned window.
    QueryDef(
      "l39_sequence_pack",
      (s, d) => Packing.packSequences(Tables.documents(s, d),
        "doc_id", "text", budget = 512, buckets = 8),
      Some(s"""WITH k AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
             |         md5(CAST(doc_id AS VARCHAR)) AS rk,
             |         COALESCE(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                  % 10000, 0) % 8 AS bucket
             |    FROM documents),
             |c AS (
             |  SELECT doc_id, bucket, n_tokens,
             |         CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY rk, doc_id
             |                                  ROWS UNBOUNDED PRECEDING) - n_tokens
             |              AS BIGINT) AS start_offset
             |    FROM k)
             |SELECT doc_id, bucket, n_tokens, start_offset,
             |       CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id,
             |       start_offset % 512 AS offset_in_pack
             |  FROM c""".stripMargin)),

    // Incremental dedup against an indexed corpus: md5-odd docs are
    // the arriving shard, md5-even docs the persisted index (the l13
    // hash family split). The oracle re-derives the asymmetric band
    // join, verification and the deterministic argmax on l03's oracle
    // banding (duckCwBandCtes).
    QueryDef(
      "l40_dedup_against_index",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bkt = Sampling.hashBucket(col("text"))
        Dedup.minhashNewVsPrebuiltIndex(docs.filter(bkt >= 5000),
            Dedup.minhashIndex(docs.filter(bkt < 5000), "doc_id", "text"),
            "doc_id", "text", threshold = 0.4)
          .select(col("new_id"), col("n_matches"),
            round(col("best_jaccard"), 6).as("best_jaccard"),
            col("best_match_id"))
      },
      Some(s"""WITH ${duckCwBandCtes(extraCols =
                ",\n       COALESCE(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000, 0) AS bkt")},
              |cand AS (
              |  SELECT DISTINCT n.id AS new_id, i.id AS matched_id
              |    FROM banded n JOIN banded i
              |      ON n.band = i.band AND n.band_hash = i.band_hash
              |   WHERE n.bkt >= 5000 AND i.bkt < 5000),
              |ver AS (
              |  SELECT new_id, matched_id, jaccard FROM (
              |    SELECT c.new_id, c.matched_id,
              |           ${duckJaccardSets("a.shs", "b2.shs")} AS jaccard
              |      FROM cand c
              |      JOIN base a ON a.id = c.new_id
              |      JOIN base b2 ON b2.id = c.matched_id)
              |   WHERE jaccard >= 0.4),
              |best AS (
              |  SELECT new_id, COUNT(*) AS n_matches, MAX(jaccard) AS best_jaccard
              |    FROM ver GROUP BY new_id)
              |SELECT b.new_id, b.n_matches, ROUND(b.best_jaccard, 6) AS best_jaccard,
              |       MIN(v.matched_id) AS best_match_id
              |  FROM best b JOIN ver v
              |    ON v.new_id = b.new_id AND v.jaccard = b.best_jaccard
              | GROUP BY 1, 2, 3""".stripMargin)),

    // Gopher-style rule curation: keep/drop + first-failing-rule per
    // doc, built from exact-rational signals only (counts and single
    // divisions) so the decision is bit-reproducible. The oracle
    // re-derives every signal and the cascade independently.
    QueryDef(
      "l41_curation_rules",
      (s, d) => Curation.gopherRules(Tables.documents(s, d),
        "doc_id", "text", "lang", minTokens = 40),
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |sig AS MATERIALIZED (
             |  SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts) END
             |           AS mean_token_len,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(len(list_filter(ts, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) / len(ts) END
             |           AS alpha_frac,
             |         list_has_any(ts, ['the', 'a', 'and', 'of', 'to', 'in']) AS has_stop
             |    FROM t),
             |r AS (
             |  SELECT doc_id, n_tokens, mean_token_len, alpha_frac,
             |         CASE WHEN n_tokens < 40 THEN 'too_short'
             |              WHEN n_tokens > 100000 THEN 'too_long'
             |              WHEN mean_token_len < 3.0 OR mean_token_len > 10.0 THEN 'token_len'
             |              WHEN alpha_frac < 0.8 THEN 'alpha'
             |              WHEN NOT has_stop THEN 'stopwords'
             |              WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
             |         END AS drop_reason
             |    FROM sig)
             |SELECT doc_id, n_tokens, mean_token_len, alpha_frac,
             |       drop_reason IS NULL AS keep, drop_reason
             |  FROM r""".stripMargin)),

    // Token-budget mixture sampling: target token shares -> per-source
    // rates -> deterministic hash-bucket membership. budget.share is
    // interpolated as the driver-computed double literal so both
    // engines divide the identical numerator.
    QueryDef(
      "l42_token_budget_mix",
      (s, d) => Sampling.tokenBudgetSample(Tables.documents(s, d),
        "doc_id", "text", "source", budgetTokens = 8000,
        shares = Map("src0" -> 0.2, "src1" -> 0.2), defaultShare = 0.03),
      Some(s"""WITH base AS (
             |  SELECT doc_id, source,
             |         GREATEST(COALESCE(CAST(len(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                              x -> len(x) > 0)) AS BIGINT), 0), 0) AS n_tokens,
             |         COALESCE(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10000, 0) AS bkt
             |    FROM documents),
             |totals AS (
             |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
             |    FROM base GROUP BY source),
             |rates AS (
             |  SELECT source,
             |         least(1.0, CASE source WHEN 'src0' THEN ${8000 * 0.2}
             |                                WHEN 'src1' THEN ${8000 * 0.2}
             |                                ELSE ${8000 * 0.03} END / src_tokens) AS rate
             |    FROM totals)
             |SELECT b.doc_id, b.source, b.n_tokens
             |  FROM base b JOIN rates r ON r.source = b.source
             | WHERE b.bkt < round(r.rate * 10000)""".stripMargin)),

    // End-to-end curation pipeline: rule gate -> corpus line dedup ->
    // exact keep-one canonicalization, one composed job. The oracle
    // re-composes the l41 and l32 oracle shapes and the l01 md5
    // keep-one convention over the same stages.
    QueryDef(
      "l43_curation_pipeline",
      (s, d) => Curation.curate(Tables.documents(s, d),
        "doc_id", "text", "lang", minTokens = 40, lineMinDocs = 3),
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang, text,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |r AS (
             |  SELECT doc_id, text,
             |         CASE WHEN len(ts) < 40 THEN 'too_short'
             |              WHEN len(ts) > 100000 THEN 'too_long'
             |              WHEN (CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts)) < 3.0
             |                OR (CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts)) > 10.0
             |                THEN 'token_len'
             |              WHEN (CAST(len(list_filter(ts, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) / len(ts)) < 0.8
             |                THEN 'alpha'
             |              WHEN NOT list_has_any(ts, ['the', 'a', 'and', 'of', 'to', 'in']) THEN 'stopwords'
             |              WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
             |         END AS drop_reason
             |    FROM t),
             |keptdocs AS (SELECT doc_id, text FROM r WHERE drop_reason IS NULL),
             |exploded AS (
             |  SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
             |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM keptdocs)),
             |lines AS (
             |  SELECT doc_id, i AS line_idx, ls[i] AS line, trim(ls[i]) AS key
             |    FROM exploded),
             |common AS (
             |  SELECT key
             |    FROM (SELECT DISTINCT doc_id, key FROM lines WHERE key <> '')
             |   GROUP BY key HAVING COUNT(*) >= 3),
             |keptlines AS (
             |  SELECT * FROM lines WHERE key NOT IN (SELECT key FROM common)),
             |agg AS (
             |  SELECT doc_id,
             |         array_to_string(list(line ORDER BY line_idx), chr(10)) AS clean_text
             |    FROM keptlines GROUP BY doc_id),
             |clean AS (
             |  SELECT k.doc_id, COALESCE(a.clean_text, '') AS clean_text
             |    FROM keptdocs k LEFT JOIN agg a USING (doc_id))
             |SELECT MIN(doc_id) AS doc_id, MIN(len(clean_text)) AS clean_len,
             |       COUNT(*) AS n_dupes
             |  FROM clean WHERE clean_text <> ''
             | GROUP BY md5(clean_text)""".stripMargin)),

    // Adaptive per-language length cutoff: drop each language's
    // bottom decile by n_chars, cutoff from the mergeable KLL sketch
    // (exact regime at this group size — quantile_disc in the oracle).
    QueryDef(
      "l44_adaptive_cut",
      (s, d) => Curation.adaptiveQuantileCut(Tables.documents(s, d),
        "doc_id", "n_chars", "lang", q = 0.1),
      Some("""WITH cuts AS (
             |  SELECT lang, CAST(quantile_disc(n_chars, 0.1) AS BIGINT) AS cutoff
             |    FROM documents GROUP BY lang)
             |SELECT d.doc_id, d.lang, d.n_chars, c.cutoff
             |  FROM documents d JOIN cuts c USING (lang)
             | WHERE d.n_chars >= c.cutoff""".stripMargin)),

    // Paragraph-granular corpus dedup (RefinedWeb paragraph removal):
    // same pipeline as l32 at blank-line-separated segments — cookie
    // walls and legal blocks that line granularity shreds. Synthetic
    // multi-paragraph docs: two high-df paragraphs, one unique.
    QueryDef(
      "l45_paragraph_dedup",
      (s, d) => {
        val docs2 = Tables.documents(s, d).select(col("doc_id"),
          concat(
            lit("accept our cookies "), col("doc_id") % 3,
            lit("\n\nuniq para "), md5(col("doc_id").cast("string")),
            lit("\n\nwritten by staff writer "), col("doc_id") % 5).as("text"))
        CorpusStats.dedupParagraphs(docs2, "doc_id", "text", minDocs = 3)
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |         'accept our cookies ' || (doc_id % 3) || chr(10) || chr(10) ||
             |         'uniq para ' || md5(CAST(doc_id AS VARCHAR)) || chr(10) || chr(10) ||
             |         'written by staff writer ' || (doc_id % 5) AS text
             |    FROM documents),
             |exploded AS (
             |  SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
             |    FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ls FROM src)),
             |lines AS (
             |  SELECT doc_id, i AS line_idx, ls[i] AS line, trim(ls[i]) AS key
             |    FROM exploded),
             |common AS (
             |  SELECT key
             |    FROM (SELECT DISTINCT doc_id, key FROM lines WHERE key <> '')
             |   GROUP BY key HAVING COUNT(*) >= 3),
             |kept AS (
             |  SELECT * FROM lines WHERE key NOT IN (SELECT key FROM common)),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_kept,
             |         array_to_string(list(line ORDER BY line_idx), chr(10) || chr(10)) AS clean_text
             |    FROM kept GROUP BY doc_id)
             |SELECT s.doc_id,
             |       len(string_split(s.text, chr(10) || chr(10))) AS n_lines,
             |       len(string_split(s.text, chr(10) || chr(10))) - COALESCE(a.n_kept, 0) AS n_removed,
             |       COALESCE(a.clean_text, '') AS clean_text
             |  FROM src s LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Sharded corpus materialization: write 8 deterministic training
    // shards + manifest, register the MANIFEST (shard doc/token
    // counts) — the oracle re-derives shard assignment and totals, so
    // a wrong bucket rule or a dropped row breaks the compare.
    QueryDef(
      "l46_corpus_shards",
      (s, d) => CorpusWriter.writeShards(Tables.documents(s, d),
        "doc_id", "text", "/tmp/graft_l46_shards", shards = 8),
      Some(s"""WITH t AS (
             |  SELECT COALESCE(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                  % 10000, 0) % 8 AS shard,
             |         CAST(len(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |    FROM documents)
             |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
             |  FROM t GROUP BY shard""".stripMargin)),

    // Keep-best canonical selection: the l12 cluster formation
    // followed by the RefinedWeb keep-the-longest decision (score =
    // n_chars, integer — no float-equality hazard; ties to smallest
    // id). Singletons are their own canonical. The oracle re-derives
    // clusters (recursive CTE), the argmax, and the singleton union.
    QueryDef(
      "l47_keep_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = docs.select((col("doc_id") - 1).as("id_a"),
          col("text").as("text_b"), col("doc_id").as("id_b"))
        val pairs = a.join(b, "id_a")
          .filter(Dedup.ngramJaccard(col("text_a"), col("text_b"), 5) >= 0.2)
          .select(col("id_a"), col("id_b"))
        Dedup.keepBest(docs, Dedup.connectedComponents(pairs),
          "doc_id", "n_chars")
      },
      Some(s"""WITH ${duckConsecCompCtes(0.2)},
              |scored AS (
              |  SELECT c.component, c.id, d.n_chars AS score
              |    FROM comp c JOIN documents d ON d.doc_id = c.id),
              |best AS (
              |  SELECT component, COUNT(*) AS n_members, MAX(score) AS best_score
              |    FROM scored GROUP BY component),
              |sel AS (
              |  SELECT b.component, b.n_members, MIN(s.id) AS keep_id, b.best_score
              |    FROM best b JOIN scored s
              |      ON s.component = b.component AND s.score = b.best_score
              |   GROUP BY 1, 2, 4)
              |SELECT component, n_members, keep_id, best_score FROM sel
              |UNION ALL
              |SELECT doc_id AS component, 1 AS n_members, doc_id AS keep_id,
              |       n_chars AS best_score
              |  FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)""".stripMargin)),

    // Domain-blocklist gate over the l35 synthetic URL family:
    // registrable-domain equality against a broadcast blocklist
    // (map-side anti join). The oracle re-derives the domains and the
    // NOT IN.
    QueryDef(
      "l48_domain_blocklist",
      (s, d) => {
        import s.implicits._
        val withUrl = Tables.documents(s, d).select(col("doc_id"),
          expr("""'https://WWW.Site' || (doc_id % 41)
                 || CASE doc_id % 4 WHEN 0 THEN '.Example.COM' WHEN 1 THEN '.shop.co.uk'
                                    WHEN 2 THEN '.Data' || (doc_id % 11) || '.io'
                                    ELSE '.news' || (doc_id % 13) || '.org' END
                 || '/p/' || doc_id""").as("url"))
        val blocklist = Seq("example.com", "shop.co.uk", "news7.org")
          .toDF("domain")
        UrlOps.filterBlockedDomains(
            UrlOps.withUrlColumns(withUrl, "url"), blocklist)
          .select("doc_id", "domain")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |         CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk'
             |                         WHEN 2 THEN 'data' || (doc_id % 11) || '.io'
             |                         ELSE 'news' || (doc_id % 13) || '.org' END AS domain
             |    FROM documents)
             |SELECT doc_id, domain FROM u
             | WHERE domain NOT IN ('example.com', 'shop.co.uk', 'news7.org')""".stripMargin)),

    // Image resize (real decode -> nearest-neighbor sample -> PNG
    // re-encode -> real re-decode): the oracle never sees a byte — it
    // re-derives the resized channel means from the l21 generative
    // formula plus the floor-division index mapping, so any sampling
    // or codec defect breaks the hash.
    QueryDef(
      "l49_image_resize",
      (s, d) => {
        val media = Multimodal.syntheticImages(Tables.documents(s, d), 200)
        val resized = Multimodal.resizeImages(media, 5, 3)
          .select(col("media_id"), col("kind"),
            col("payload_resized").as("payload"))
        Multimodal.extractFeatures(resized)
          .select(col("media_id"), col("width"), col("height"),
            round(col("mean_r"), 6).as("mean_r"),
            round(col("mean_g"), 6).as("mean_g"),
            round(col("mean_b"), 6).as("mean_b"))
      },
      Some("""WITH imgs AS (
             |  SELECT doc_id AS media_id,
             |         CAST(2 + doc_id % 7 AS INTEGER) AS w,
             |         CAST(2 + doc_id % 5 AS INTEGER) AS h
             |    FROM documents WHERE doc_id < 200),
             |m AS (
             |  SELECT media_id,
             |         flatten(list_transform(generate_series(0, 4), x2 ->
             |           list_transform(generate_series(0, 2), y2 ->
             |             [(media_id * 7 + ((x2 * w) // 5) * 13 + ((y2 * h) // 3) * 31) % 256,
             |              (media_id * 11 + ((x2 * w) // 5) * 17 + ((y2 * h) // 3) * 5) % 256,
             |              (media_id * 3 + ((x2 * w) // 5) * 29 + ((y2 * h) // 3) * 23) % 256]))) AS px
             |    FROM imgs)
             |SELECT media_id, 5 AS width, 3 AS height,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[1])) AS DOUBLE) / 15, 6) AS mean_r,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[2])) AS DOUBLE) / 15, 6) AS mean_g,
             |       ROUND(CAST(list_sum(list_transform(px, p -> p[3])) AS DOUBLE) / 15, 6) AS mean_b
             |  FROM m""".stripMargin)),

    // Audio decimation (real decode -> keep every 2nd frame -> WAV
    // re-encode -> real re-decode): the oracle re-derives kept-frame
    // stats from the l22 generative formula at t*2, halved rate,
    // ceil(n/2) frames — never touching WAV bytes.
    QueryDef(
      "l50_audio_decimate",
      (s, d) => {
        val media = Multimodal.syntheticAudio(Tables.documents(s, d), 200)
        val resampled = Multimodal.decimateAudio(media, 2)
          .select(col("media_id"), col("kind"),
            col("payload_resampled").as("payload"))
        Multimodal.extractFeatures(resampled)
          .select(col("media_id"), col("channels"), col("sample_rate"),
            col("n_frames"), col("duration_ms"),
            round(col("mean_amp"), 6).as("mean_amp"), col("peak_abs"))
      },
      Some("""WITH auds AS (
             |  SELECT doc_id AS media_id,
             |         CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             |         CAST((8000 * (1 + doc_id % 3)) // 2 AS INTEGER) AS sample_rate,
             |         CAST((40 + doc_id % 25 + 1) // 2 AS BIGINT) AS n_frames
             |    FROM documents WHERE doc_id < 200),
             |m AS (
             |  SELECT media_id, channels, sample_rate, n_frames,
             |         flatten(list_transform(generate_series(0, channels - 1), c ->
             |           list_transform(generate_series(0, CAST(n_frames AS INTEGER) - 1), t ->
             |             ((media_id * 7919 + c * 104729 + (t * 2) * 1299721) % 65536) - 32768))) AS s
             |    FROM auds)
             |SELECT media_id, channels, sample_rate, n_frames,
             |       (n_frames * 1000) // sample_rate AS duration_ms,
             |       ROUND(CAST(list_sum(s) AS DOUBLE) / (channels * n_frames), 6) AS mean_amp,
             |       CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak_abs
             |  FROM m""".stripMargin)),

    // Leakage-free train/eval split: split key = md5 bucket of the
    // near-dup CLUSTER representative (l12's clusters), so duplicates
    // never straddle the split. 900‰ to train. Oracle re-derives
    // clusters, the coalesce, and the bucket rule.
    QueryDef(
      "l51_leakage_free_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = docs.select((col("doc_id") - 1).as("id_a"),
          col("text").as("text_b"), col("doc_id").as("id_b"))
        val pairs = a.join(b, "id_a")
          .filter(Dedup.ngramJaccard(col("text_a"), col("text_b"), 5) >= 0.2)
          .select(col("id_a"), col("id_b"))
        Dedup.leakageFreeSplit(docs, Dedup.connectedComponents(pairs),
          "doc_id", trainPerMille = 900)
      },
      Some(s"""WITH ${duckConsecCompCtes(0.2)}
              |SELECT d.doc_id AS id,
              |       COALESCE(c.component, d.doc_id) AS component,
              |       CASE WHEN COALESCE(CAST(('0x' || substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT)
              |                          % 10000, 0) % 1000 < 900
              |            THEN 'train' ELSE 'eval' END AS split
              |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin)),

    // Unicode/whitespace canonicalization over deterministically
    // dirtied text (leading spaces, tab runs, a BEL control): both
    // engines build the identical dirty string, normalize it (JDK NFC
    // + portable regex steps vs DuckDB nfc_normalize + the same
    // regexes), and compare the cleaned form exactly.
    QueryDef(
      "l52_text_normalize",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextStats.normalizeText(
            concat(lit("  "), col("text"), lit("\t\t tail!")))
            .as("norm_text"))
        .withColumn("norm_len", length(col("norm_text")).cast("long")),
      Some("""SELECT doc_id,
             |       trim(regexp_replace(regexp_replace(
             |           nfc_normalize('  ' || text || chr(9) || chr(9) || ' tail' || chr(7) || '!'),
             |           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |         '[ \t]+', ' ', 'g')) AS norm_text,
             |       CAST(len(trim(regexp_replace(regexp_replace(
             |           nfc_normalize('  ' || text || chr(9) || chr(9) || ' tail' || chr(7) || '!'),
             |           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |         '[ \t]+', ' ', 'g'))) AS BIGINT) AS norm_len
             |  FROM documents""".stripMargin)),

    // Dedup-savings audit: ONE global row quantifying what near-dup
    // canonicalization buys — docs and tokens before/after keep-best
    // (l47's clusters, keep the longest). tokens = n_chars here
    // (exact-integer proxy so the report is hash-exact). The oracle
    // re-derives the clusters, the argmax keeps, and both totals.
    QueryDef(
      "l53_dedup_savings",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        val b = docs.select((col("doc_id") - 1).as("id_a"),
          col("text").as("text_b"), col("doc_id").as("id_b"))
        val pairs = a.join(b, "id_a")
          .filter(Dedup.ngramJaccard(col("text_a"), col("text_b"), 5) >= 0.2)
          .select(col("id_a"), col("id_b"))
        val kept = Dedup.keepBest(docs, Dedup.connectedComponents(pairs),
            "doc_id", "n_chars")
          .select(col("keep_id").as("doc_id"))
        val totals = docs.agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"))
        val keptTotals = docs.join(kept, "doc_id")
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
        totals.crossJoin(keptTotals)
          .select(col("n_docs"), col("n_kept"), col("chars_total"),
            col("chars_kept"),
            ((col("chars_total") - col("chars_kept")).cast("double")
              / col("chars_total")).as("savings_frac"))
      },
      Some(s"""WITH ${duckConsecCompCtes(0.2)},
              |scored AS (
              |  SELECT c.component, c.id, d.n_chars AS score
              |    FROM comp c JOIN documents d ON d.doc_id = c.id),
              |best AS (
              |  SELECT component, MAX(score) AS best_score FROM scored GROUP BY component),
              |sel AS (
              |  SELECT b.component, MIN(s.id) AS keep_id
              |    FROM best b JOIN scored s
              |      ON s.component = b.component AND s.score = b.best_score
              |   GROUP BY 1),
              |keeps AS (
              |  SELECT keep_id FROM sel
              |  UNION ALL
              |  SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)),
              |t AS (SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_total
              |        FROM documents),
              |k AS (SELECT COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
              |        FROM keeps JOIN documents d ON d.doc_id = keeps.keep_id)
              |SELECT t.n_docs, k.n_kept, t.chars_total, k.chars_kept,
              |       CAST(t.chars_total - k.chars_kept AS DOUBLE) / t.chars_total AS savings_frac
              |  FROM t, k""".stripMargin)),

    // BM25 keyword retrieval: 3 fixed queries, top-10 per query.
    // The oracle re-derives the whole ranking function (Lucene-variant
    // idf, k1=1.2 b=0.75 saturation) from the shared tokenizer — the
    // literal arithmetic mirrors Retrieval.bm25TopKFromIndex's
    // expression shapes so both engines execute the same IEEE ops.
    QueryDef(
      "l54_bm25_topk",
      (s, d) => {
        import s.implicits._
        val q = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"))
          .toDF("query_id", "query_text")
        Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text", q, 10)
      },
      Some(s"""WITH q(query_id, query_text) AS (
             |  VALUES (0, 'spark window agg'), (1, 'vector stream join'),
             |         (2, 'customer query filter table')),
             |dt AS MATERIALIZED (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS toks
             |    FROM documents),
             |qt AS (
             |  SELECT DISTINCT query_id,
             |         unnest(list_filter(string_split_regex(lower(query_text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                            x -> len(x) > 0)) AS term
             |    FROM q),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
             |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dt)
             |   WHERE term IN (SELECT term FROM qt)
             |   GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl
             |            FROM dt WHERE len(toks) > 0),
             |scored AS (
             |  SELECT qt.query_id, tf.doc_id,
             |         CAST(SUM(CAST(floor(
             |           (ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             |             * (tf.tf * (1.2 + 1.0))
             |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)))
             |           * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS score
             |    FROM tf JOIN qt USING (term) JOIN df USING (term), stats
             |   GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, score,
             |             row_number() OVER (PARTITION BY query_id
             |                                ORDER BY score DESC, doc_id) AS rank
             |        FROM scored)
             |SELECT CAST(query_id AS BIGINT) AS query_id,
             |       CAST(doc_id AS BIGINT) AS doc_id, score,
             |       CAST(rank AS BIGINT) AS rank
             |  FROM r WHERE rank <= 10""".stripMargin)),

    // Overlapping token-window chunking (8-token windows every 5):
    // map-side only, chunks never cross documents. The oracle slices
    // the same token lists with DuckDB's 1-based inclusive list
    // slicing.
    QueryDef(
      "l55_chunk_text",
      (s, d) => Retrieval.chunkTokens(Tables.documents(s, d),
        "doc_id", "text", chunk = 8, stride = 5),
      Some(s"""WITH dt AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS toks
             |    FROM documents),
             |d2 AS (SELECT doc_id, toks, len(toks) AS dl FROM dt WHERE len(toks) > 0),
             |c AS (SELECT doc_id, dl, toks,
             |             unnest(range(CAST(ceil(greatest(dl - 8, 0) / 5.0) AS BIGINT) + 1)) AS chunk_id
             |        FROM d2)
             |SELECT doc_id, chunk_id, chunk_id * 5 AS start_tok,
             |       least(8, dl - chunk_id * 5) AS n_tok,
             |       array_to_string(toks[chunk_id * 5 + 1 : chunk_id * 5 + 8], ' ') AS chunk_text
             |  FROM c""".stripMargin)),

    // Perceptual image dedup through the REAL decode path: the
    // fixture plants exact-duplicate pixel content under distinct
    // media ids (content key = id % 80), the Spark side dHash-es the
    // DECODED PNGs and finds near-dup pairs via banded Hamming LSH,
    // and the oracle re-derives every 56-bit hash from the generative
    // pixel formula in pure integer SQL — DuckDB never sees a PNG, so
    // any decoder/sampling/luma defect breaks the hash compare. The
    // oracle verifies ALL pairs O(n²); 4×14-bit bands guarantee recall
    // at Hamming ≤ 3 (pigeonhole), so the two pair sets are equal by
    // construction, not by luck.
    QueryDef(
      "l56_image_dhash_dedup",
      (s, d) => {
        val media = Multimodal.syntheticImages(
          Tables.documents(s, d), 200, contentMod = 80)
        Multimodal.dhashNearDupPairs(media, maxHamming = 3)
      },
      Some("""WITH g AS (
             |  SELECT doc_id AS media_id, doc_id % 80 AS cid,
             |         2 + (doc_id % 80) % 7 AS w, 2 + (doc_id % 80) % 5 AS h
             |    FROM documents WHERE doc_id < 200),
             |hsh AS (
             |  SELECT media_id,
             |         CAST(list_sum(flatten(list_transform(generate_series(0, 7), x2 ->
             |           list_transform(generate_series(0, 6), y2 ->
             |             CASE WHEN
             |               (299 * ((cid * 7 + (((x2 + 1) * w) // 9) * 13 + ((y2 * h) // 7) * 31) % 256)
             |                + 587 * ((cid * 11 + (((x2 + 1) * w) // 9) * 17 + ((y2 * h) // 7) * 5) % 256)
             |                + 114 * ((cid * 3 + (((x2 + 1) * w) // 9) * 29 + ((y2 * h) // 7) * 23) % 256)) // 1000
             |               >
             |               (299 * ((cid * 7 + ((x2 * w) // 9) * 13 + ((y2 * h) // 7) * 31) % 256)
             |                + 587 * ((cid * 11 + ((x2 * w) // 9) * 17 + ((y2 * h) // 7) * 5) % 256)
             |                + 114 * ((cid * 3 + ((x2 * w) // 9) * 29 + ((y2 * h) // 7) * 23) % 256)) // 1000
             |             THEN CAST(1 AS BIGINT) << (x2 * 7 + y2) ELSE CAST(0 AS BIGINT) END)))) AS BIGINT) AS dhash
             |    FROM g)
             |SELECT a.media_id AS id_a, b.media_id AS id_b,
             |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
             |  FROM hsh a JOIN hsh b ON b.media_id > a.media_id
             | WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin)),

    // Hybrid retrieval: BM25 keyword top-30 fused with brute-force
    // cosine top-30 by Reciprocal Rank Fusion (c=60), final top-10.
    // Both constituent rankings are integer-rank lists the oracle
    // already re-derives exactly (l54's BM25, l05's cosine), and the
    // two-addend RRF sum is IEEE-exact, so the fused scores hash-match
    // bit-for-bit. Query ids pair a text query with the same-id
    // embedding (documents and embeddings share the id space).
    QueryDef(
      "l57_hybrid_rrf",
      (s, d) => {
        import s.implicits._
        val qtext = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"),
          (3L, "merge batch line sort"),
          (4L, "hash group data column"))
          .toDF("query_id", "query_text")
        val emb = Tables.embeddings(s, d)
        val bm = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
            qtext, 30)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val cos = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 30)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(bm, cos), k = 10)
      },
      Some(s"""WITH q(query_id, query_text) AS (
             |  VALUES (0, 'spark window agg'), (1, 'vector stream join'),
             |         (2, 'customer query filter table'),
             |         (3, 'merge batch line sort'), (4, 'hash group data column')),
             |dt AS MATERIALIZED (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS toks
             |    FROM documents),
             |qt AS (
             |  SELECT DISTINCT query_id,
             |         unnest(list_filter(string_split_regex(lower(query_text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                            x -> len(x) > 0)) AS term
             |    FROM q),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
             |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dt)
             |   WHERE term IN (SELECT term FROM qt)
             |   GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl
             |            FROM dt WHERE len(toks) > 0),
             |bm_scored AS (
             |  SELECT qt.query_id, tf.doc_id,
             |         CAST(SUM(CAST(floor(
             |           (ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             |             * (tf.tf * (1.2 + 1.0))
             |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)))
             |           * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS score
             |    FROM tf JOIN qt USING (term) JOIN df USING (term), stats
             |   GROUP BY 1, 2),
             |bm_r AS (SELECT query_id, doc_id,
             |                row_number() OVER (PARTITION BY query_id
             |                                   ORDER BY score DESC, doc_id) AS rank
             |           FROM bm_scored),
             |cos_pairs AS MATERIALIZED (
             |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
             |         ${duckDot("c.embedding", "q.embedding")} /
             |           (sqrt(${duckDot("c.embedding", "c.embedding")}) *
             |            sqrt(${duckDot("q.embedding", "q.embedding")})) AS cos
             |    FROM embeddings c, embeddings q
             |   WHERE q.vec_id < 5 AND c.vec_id != q.vec_id),
             |cos_r AS (SELECT query_id, doc_id,
             |                 row_number() OVER (PARTITION BY query_id
             |                                    ORDER BY cos DESC, doc_id) AS rank
             |            FROM cos_pairs),
             |u AS (SELECT query_id, doc_id, rank FROM bm_r WHERE rank <= 30
             |      UNION ALL
             |      SELECT query_id, doc_id, rank FROM cos_r WHERE rank <= 30),
             |sc AS (SELECT query_id, doc_id,
             |              SUM(CAST(1 AS DOUBLE) / (60 + rank)) AS rrf
             |         FROM u GROUP BY 1, 2),
             |f AS (SELECT query_id, doc_id, rrf,
             |             row_number() OVER (PARTITION BY query_id
             |                                ORDER BY rrf DESC, doc_id) AS rank
             |        FROM sc)
             |SELECT CAST(query_id AS BIGINT) AS query_id,
             |       CAST(doc_id AS BIGINT) AS doc_id, rrf,
             |       CAST(rank AS BIGINT) AS rank
             |  FROM f WHERE rank <= 10""".stripMargin)),

    // Hard-negative mining: top BM25 hits minus the labeled positives,
    // re-ranked 1..k — the contrastive-training negatives op. The
    // oracle mirrors the two-stage shape exactly (overfetch cut, then
    // anti-join, then re-rank) so boundary ties resolve identically.
    QueryDef(
      "l58_hard_negatives",
      (s, d) => {
        import s.implicits._
        val qtext = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"))
          .toDF("query_id", "query_text")
        val positives = Seq(
          (0L, 0L), (0L, 1L), (1L, 3L), (1L, 4L), (2L, 6L), (2L, 7L))
          .toDF("query_id", "doc_id")
        Retrieval.hardNegatives(Tables.documents(s, d), "doc_id", "text",
          qtext, positives, k = 8, overfetch = 4)
      },
      Some(s"""WITH q(query_id, query_text) AS (
             |  VALUES (0, 'spark window agg'), (1, 'vector stream join'),
             |         (2, 'customer query filter table')),
             |pos(query_id, doc_id) AS (
             |  VALUES (0, 0), (0, 1), (1, 3), (1, 4), (2, 6), (2, 7)),
             |dt AS MATERIALIZED (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS toks
             |    FROM documents),
             |qt AS (
             |  SELECT DISTINCT query_id,
             |         unnest(list_filter(string_split_regex(lower(query_text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                            x -> len(x) > 0)) AS term
             |    FROM q),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
             |    FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dt)
             |   WHERE term IN (SELECT term FROM qt)
             |   GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl
             |            FROM dt WHERE len(toks) > 0),
             |scored AS (
             |  SELECT qt.query_id, tf.doc_id,
             |         CAST(SUM(CAST(floor(
             |           (ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             |             * (tf.tf * (1.2 + 1.0))
             |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)))
             |           * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS score
             |    FROM tf JOIN qt USING (term) JOIN df USING (term), stats
             |   GROUP BY 1, 2),
             |mined AS (
             |  SELECT query_id, doc_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY score DESC, doc_id) AS rank
             |    FROM scored),
             |neg AS (
             |  SELECT m.query_id, m.doc_id, m.score
             |    FROM mined m
             |    LEFT JOIN pos p ON p.query_id = m.query_id AND p.doc_id = m.doc_id
             |   WHERE m.rank <= 12 AND p.query_id IS NULL),
             |rr AS (
             |  SELECT query_id, doc_id, score,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY score DESC, doc_id) AS rank
             |    FROM neg)
             |SELECT CAST(query_id AS BIGINT) AS query_id,
             |       CAST(doc_id AS BIGINT) AS doc_id, score,
             |       CAST(rank AS BIGINT) AS rank
             |  FROM rr WHERE rank <= 8""".stripMargin)),

    // Generation-over-generation corpus diff: the previous generation
    // is derived deterministically from documents (every 10th doc
    // absent -> 'added' now; every 7th doc's text suffixed ->
    // 'changed'; 100 extra ids -> 'removed'), so both engines build
    // identical snapshots and the md5-based status must hash-match.
    QueryDef(
      "l59_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prev = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") < 100)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        CorpusStats.corpusDiff(prev, docs, "doc_id", "text")
      },
      Some("""WITH prev AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
             |    FROM documents WHERE doc_id % 10 != 0
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100),
             |p AS (SELECT doc_id, md5(text) AS h FROM prev),
             |c AS (SELECT doc_id, md5(text) AS h FROM documents)
             |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
             |       CASE WHEN p.doc_id IS NULL THEN 'added'
             |            WHEN c.doc_id IS NULL THEN 'removed'
             |            WHEN p.h IS NOT DISTINCT FROM c.h THEN 'unchanged'
             |            ELSE 'changed' END AS status
             |  FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id""".stripMargin)),

    // fastText/CCNet-style linear quality-classifier inference over
    // hashed bag-of-words features. Scoring is integer-exact (milli-
    // unit weights from the formula family, md5-derived feature ids),
    // so the oracle re-derives z_milli with NO float-summation-order
    // caveat; the sigmoid score is derived from the exact integer and
    // excluded from the compared columns (libm vs JVM exp may differ
    // in the last ulp). Weights broadcast; one doc-keyed reduce.
    QueryDef(
      "l60_quality_classifier",
      (s, d) =>
        QualityClassifier.scoreLinear(
            Tables.documents(s, d), "doc_id", "text",
            QualityClassifier.formulaWeights(s, 4096), dim = 4096,
            biasMilli = 0L, thresholdMilli = 0L)
          .drop("score"),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok
             |    FROM documents),
             |feats AS (
             |  SELECT doc_id,
             |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS f
             |    FROM toks),
             |scored AS (
             |  SELECT doc_id, COUNT(*) AS n_toks,
             |         CAST(SUM(((f % 100003) * 2654435761) % 2001 - 1000) AS BIGINT) AS z_milli
             |    FROM feats GROUP BY doc_id)
             |SELECT doc_id, n_toks, z_milli, z_milli >= 0 AS kept FROM scored""".stripMargin)),

    // Token-distribution drift between the l59 snapshots: vocabulary
    // churn + total-variation distance with an integer-exact numerator
    // (Σ|cnt_p·N_c − cnt_c·N_p|; one float division at the end), so
    // the oracle has no float-summation-order caveat.
    QueryDef(
      "l61_token_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prev = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") < 100)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        CorpusStats.tokenDrift(prev, docs, "doc_id", "text")
      },
      Some(s"""WITH prev AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
             |    FROM documents WHERE doc_id % 10 != 0
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100),
             |tp AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok FROM prev),
             |tc AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok FROM documents),
             |cp AS (SELECT tok, COUNT(*) AS cnt_p FROM tp GROUP BY tok),
             |cc AS (SELECT tok, COUNT(*) AS cnt_c FROM tc GROUP BY tok),
             |j AS (
             |  SELECT COALESCE(cnt_p, 0) AS cnt_p, COALESCE(cnt_c, 0) AS cnt_c
             |    FROM cp FULL OUTER JOIN cc ON cp.tok = cc.tok),
             |t AS (SELECT SUM(cnt_p) AS n_p, SUM(cnt_c) AS n_c FROM j)
             |SELECT CAST(t.n_p AS BIGINT) AS n_prev,
             |       CAST(t.n_c AS BIGINT) AS n_curr,
             |       CAST(SUM(CASE WHEN cnt_p > 0 AND cnt_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_both,
             |       CAST(SUM(CASE WHEN cnt_p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_added,
             |       CAST(SUM(CASE WHEN cnt_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_removed,
             |       CAST(CAST(SUM(abs(cnt_p * t.n_c - cnt_c * t.n_p)) AS DOUBLE)
             |            / (2.0 * t.n_p * t.n_c) AS DOUBLE) AS tvd
             |  FROM j, t GROUP BY t.n_p, t.n_c""".stripMargin)),

    // Preference-pair construction for RLHF/DPO: completions = docs,
    // prompt groups = doc_id % 40, reward = the l60 classifier's exact
    // integer z_milli; best-vs-worst per prompt with a tie-free
    // (score·10^7 + id) fold and a >= 1 milli margin. One
    // map-combinable aggregate on the prompt key.
    QueryDef(
      "l62_preference_pairs",
      (s, d) =>
        Preference.preferencePairs(
          QualityClassifier.scoreLinear(
              Tables.documents(s, d), "doc_id", "text",
              QualityClassifier.formulaWeights(s, 4096), dim = 4096)
            .withColumn("prompt_id", col("doc_id") % 40),
          "prompt_id", "doc_id", "z_milli", minMarginMilli = 1L),
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok
             |    FROM documents),
             |feats AS (
             |  SELECT doc_id,
             |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS f
             |    FROM toks),
             |scored AS (
             |  SELECT doc_id,
             |         CAST(SUM(((f % 100003) * 2654435761) % 2001 - 1000) AS BIGINT) AS z_milli
             |    FROM feats GROUP BY doc_id),
             |p AS (
             |  SELECT doc_id % 40 AS prompt_id, doc_id, z_milli,
             |         z_milli * 10000000 + doc_id AS r
             |    FROM scored)
             |SELECT prompt_id, COUNT(*) AS n_candidates,
             |       arg_max(doc_id, r) AS chosen_id,
             |       MAX(z_milli) AS chosen_score,
             |       arg_min(doc_id, r) AS rejected_id,
             |       MIN(z_milli) AS rejected_score,
             |       MAX(z_milli) - MIN(z_milli) AS margin
             |  FROM p GROUP BY prompt_id
             |HAVING COUNT(*) >= 2 AND MAX(z_milli) - MIN(z_milli) >= 1""".stripMargin)),

    // DSIR-style importance weighting: target = every 9th doc, raw =
    // the whole corpus; per-feature quantized likelihood ratio
    // (integer-exact, see ops/Dsir.scala), per-doc integer importance
    // with per-token selection by cross-multiplication.
    QueryDef(
      "l63_dsir_importance",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = Dsir.importanceWeights(
          docs.filter(col("doc_id") % 9 === 0), docs,
          "doc_id", "text", dim = 2048, capMilli = 8000L)
        Dsir.importanceScore(docs, "doc_id", "text", w, dim = 2048,
          perTokThresholdMilli = 1000L)
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok
             |    FROM documents),
             |dc AS (
             |  SELECT doc_id,
             |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2048 AS f,
             |         COUNT(*) AS cnt
             |    FROM toks GROUP BY doc_id, f),
             |crt AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS cr FROM dc GROUP BY f),
             |ctt AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS ct
             |          FROM dc WHERE doc_id % 9 = 0 GROUP BY f),
             |tot AS (SELECT (SELECT COALESCE(CAST(SUM(ct) AS BIGINT), 0) FROM ctt) AS nt,
             |               (SELECT CAST(SUM(cr) AS BIGINT) FROM crt) AS nr),
             |w AS (
             |  SELECT crt.f,
             |         LEAST(8000, ((COALESCE(ctt.ct, 0) + 1) * (tot.nr + 2048) * 1000)
             |                       // ((crt.cr + 1) * (tot.nt + 2048))) AS w_milli
             |    FROM crt LEFT JOIN ctt ON crt.f = ctt.f, tot)
             |SELECT doc_id,
             |       CAST(SUM(cnt) AS BIGINT) AS n_toks,
             |       CAST(SUM(cnt * w_milli) AS BIGINT) AS imp_milli,
             |       CAST(SUM(cnt * w_milli) AS BIGINT)
             |         >= CAST(SUM(cnt) AS BIGINT) * 1000 AS selected
             |  FROM dc JOIN w ON dc.f = w.f GROUP BY doc_id""".stripMargin)),

    // The distributed kernel of BPE tokenizer training: adjacent
    // code-point pair counts over the word-frequency table (corpus
    // touched once; the aggregate is vocab-sized), top 20 under the
    // total (cnt DESC, a, b) order the trainer's tie-break uses.
    QueryDef(
      "l64_bpe_pairs",
      (s, d) =>
        BpeTrainer.pairCounts(
            BpeTrainer.initialVocab(Tables.documents(s, d), "text"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(20),
      Some(s"""WITH toks AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS w
             |    FROM documents),
             |wc AS (SELECT w, COUNT(*) AS freq FROM toks GROUP BY w),
             |pr AS (
             |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, freq
             |    FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
             |            FROM wc WHERE len(w) >= 2))
             |SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
             |  FROM pr GROUP BY a, b
             | ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin)),

    // PageRank over a deterministically derived link graph (three
    // modular out-edges per document — both engines construct the
    // identical relation), 3 power iterations at d=0.85. The Spark
    // side is the production iterative operator (GraphRank.pageRank,
    // one shuffle per iteration, localCheckpoint-truncated lineage);
    // the oracle unrolls the same recurrence as chained CTEs. The
    // graph has no dangling nodes by construction, so the two
    // formulations share the plain inflow recurrence; the dangling
    // path is pinned by GraphRankSpec against an independent
    // driver-side reference implementation.
    QueryDef(
      "l65_pagerank",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 37 + 11) % n).as("dst"))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 53 + 7) % n))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 97 + 3) % n))
        GraphRank.pageRank(edges, iters = 3)
          .select(col("id").as("doc_id"), col("rank"))
      },
      Some("""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |e AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM (
             |    SELECT doc_id AS src, (doc_id*37 + 11) % nn.n AS dst FROM documents, nn
             |    UNION ALL SELECT doc_id, (doc_id*53 + 7) % nn.n FROM documents, nn
             |    UNION ALL SELECT doc_id, (doc_id*97 + 3) % nn.n FROM documents, nn)),
             |od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM e GROUP BY src),
             |r0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE)/nn.n AS rank FROM documents, nn),
             |r1 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
             |                + 0.85*COALESCE(SUM(r0.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r0 ON r0.id = e.src
             |        GROUP BY d.doc_id),
             |r2 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
             |                + 0.85*COALESCE(SUM(r1.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r1 ON r1.id = e.src
             |        GROUP BY d.doc_id),
             |r3 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
             |                + 0.85*COALESCE(SUM(r2.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r2 ON r2.id = e.src
             |        GROUP BY d.doc_id)
             |SELECT id AS doc_id, CAST(rank AS DOUBLE) AS rank FROM r3""".stripMargin)),

    // Personalized PageRank over the l65 graph with a derived seed
    // set (every 100th document) — the seed-proximity selection
    // signal. The graph has no dangling nodes by construction, so
    // both engines share the plain recurrence r = 0.15·tele +
    // 0.85·inflow with tele = 1/|S| on seeds, 0 elsewhere; the
    // dangling/off-graph-seed paths are pinned in GraphRankSpec.
    QueryDef(
      "l66_personalized_pagerank",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 37 + 11) % n).as("dst"))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 53 + 7) % n))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 97 + 3) % n))
        GraphRank.personalizedPageRank(edges,
            docs.filter(col("doc_id") % 100 === 0)
              .select(col("doc_id").as("id")),
            iters = 3)
          .select(col("id").as("doc_id"), col("rank"))
      },
      Some("""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |sn AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM documents WHERE doc_id % 100 = 0),
             |e AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM (
             |    SELECT doc_id AS src, (doc_id*37 + 11) % nn.n AS dst FROM documents, nn
             |    UNION ALL SELECT doc_id, (doc_id*53 + 7) % nn.n FROM documents, nn
             |    UNION ALL SELECT doc_id, (doc_id*97 + 3) % nn.n FROM documents, nn)),
             |od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM e GROUP BY src),
             |r0 AS (SELECT doc_id AS id,
             |              CASE WHEN doc_id % 100 = 0
             |                   THEN CAST(1.0 AS DOUBLE)/(SELECT s FROM sn)
             |                   ELSE CAST(0 AS DOUBLE) END AS rank
             |         FROM documents),
             |r1 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE) * CASE WHEN d.doc_id % 100 = 0
             |                   THEN CAST(1.0 AS DOUBLE)/(SELECT s FROM sn) ELSE 0 END
             |                + 0.85*COALESCE(SUM(r0.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r0 ON r0.id = e.src
             |        GROUP BY d.doc_id),
             |r2 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE) * CASE WHEN d.doc_id % 100 = 0
             |                   THEN CAST(1.0 AS DOUBLE)/(SELECT s FROM sn) ELSE 0 END
             |                + 0.85*COALESCE(SUM(r1.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r1 ON r1.id = e.src
             |        GROUP BY d.doc_id),
             |r3 AS (SELECT d.doc_id AS id,
             |              CAST(0.15 AS DOUBLE) * CASE WHEN d.doc_id % 100 = 0
             |                   THEN CAST(1.0 AS DOUBLE)/(SELECT s FROM sn) ELSE 0 END
             |                + 0.85*COALESCE(SUM(r2.rank/od.odeg), 0) AS rank
             |         FROM documents d
             |         LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN od ON od.src = e.src
             |         LEFT JOIN r2 ON r2.id = e.src
             |        GROUP BY d.doc_id)
             |SELECT id AS doc_id, CAST(rank AS DOUBLE) AS rank FROM r3""".stripMargin)),

    // Packed token-id emission — the end-to-end tokenizer artifact a
    // production ingest hands the trainer (r8 verdict #4): train 4 BPE
    // merges, encode every document to dense symbol ids (UTF-8-ordered
    // symbol table), lay documents out in Packing's deterministic
    // sharded stream order, and emit each 64-token pack's id array
    // (CSV-stringified on both engine sides, the a45 lesson). The
    // oracle re-derives the ENTIRE chain: word counts, four sequential
    // training rounds — top pair under the trainer's total (cnt DESC,
    // a, b) order, applied with a list_reduce fold that reproduces the
    // left-to-right non-overlapping merge exactly (the fold merges iff
    // the accumulated tail equals `a`, which a just-merged `a||b` can
    // never do) — symbol-id assignment, per-word id lists, per-doc
    // flattening, the md5 stream order, and the pack arithmetic.
    QueryDef(
      "l67_packed_token_ids",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = BpeTrainer.trainMergesAuto(docs, "text", 4)
        BpeTrainer.packTokenIds(docs, "doc_id", "text", merges,
            budget = 64, buckets = 4)
          .select(col("bucket"), col("pack_id"), col("n_tokens"),
            concat_ws(",",
              transform(col("token_ids"), _.cast("string"))).as("token_ids"))
      },
      Some {
        val rounds = (1 to 4).map { k =>
          s"""m$k AS (SELECT a, b FROM (
             |    SELECT syms[i] AS a, syms[i+1] AS b, SUM(freq) AS cnt
             |      FROM (SELECT freq, syms, unnest(generate_series(1, len(syms)-1)) AS i
             |              FROM v${k - 1} WHERE len(syms) >= 2)
             |     GROUP BY 1, 2) ORDER BY cnt DESC, a, b LIMIT 1),
             |v$k AS MATERIALIZED (
             |  SELECT word, freq, list_reduce(list_transform(syms, x -> [x]),
             |    (acc, x) -> CASE WHEN acc[-1] = m$k.a AND x[1] = m$k.b
             |                     THEN acc[1:len(acc)-1] || [m$k.a || m$k.b]
             |                     ELSE acc || x END) AS syms
             |    FROM v${k - 1}, m$k),""".stripMargin
        }.mkString("\n")
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
           |                             x -> len(x) > 0) AS ts
           |    FROM documents),
           |wc AS MATERIALIZED (
           |  SELECT w AS word, COUNT(*) AS freq
           |    FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
           |v0 AS MATERIALIZED (
           |  SELECT word, freq,
           |         list_transform(generate_series(1, len(word)), i -> substr(word, i, 1)) AS syms
           |    FROM wc),
           |$rounds
           |symtab AS (SELECT s AS sym, row_number() OVER (ORDER BY s) AS sid
           |             FROM (SELECT DISTINCT unnest(syms) AS s FROM v4)),
           |wsym AS (SELECT word, i, syms[i] AS sym
           |           FROM (SELECT word, syms, unnest(generate_series(1, len(syms))) AS i FROM v4)),
           |wids AS MATERIALIZED (
           |  SELECT word, list(sid ORDER BY i) AS ids
           |    FROM wsym JOIN symtab USING (sym) GROUP BY word),
           |dw AS (SELECT doc_id, i AS wpos, ts[i] AS word
           |         FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks)),
           |dflat AS MATERIALIZED (
           |  SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS flat
           |    FROM dw JOIN wids USING (word) GROUP BY doc_id),
           |lay AS (
           |  SELECT d.doc_id,
           |         COALESCE(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000, 0) % 4 AS bucket,
           |         md5(CAST(d.doc_id AS VARCHAR)) AS rk,
           |         COALESCE(len(f.flat), 0) AS n
           |    FROM documents d LEFT JOIN dflat f USING (doc_id)),
           |off AS (
           |  SELECT doc_id, bucket,
           |         CAST(SUM(n) OVER (PARTITION BY bucket ORDER BY rk, doc_id
           |                           ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start_offset
           |    FROM lay),
           |tok AS (
           |  SELECT bucket, start_offset + i - 1 AS gpos, flat[i] AS tid
           |    FROM (SELECT o.bucket, o.start_offset, f.flat,
           |                 unnest(generate_series(1, len(f.flat))) AS i
           |            FROM dflat f JOIN off o USING (doc_id)))
           |SELECT bucket, CAST(floor(gpos / 64.0) AS BIGINT) AS pack_id,
           |       COUNT(*) AS n_tokens,
           |       string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos) AS token_ids
           |  FROM tok GROUP BY bucket, pack_id""".stripMargin
      }),

    // Exact-substring duplicated spans (full Lee et al. ExactSubstr
    // semantics, r8 verdict #5 — l36's chunk-granular signal upgraded
    // to exact maximal spans): stride-1 8-token window fingerprints,
    // a window occurring >= 2 times anywhere marks its token range
    // duplicated, overlapping/adjacent ranges merge into maximal
    // spans. Oracle re-derives tokenization, the md5-prefix window
    // fingerprints, occurrence counts, and the island merge.
    QueryDef(
      "l68_exact_substr_spans",
      (s, d) => CorpusStats.exactSubstrSpans(
        Tables.documents(s, d), "doc_id", "text",
        minTokens = 8, minCount = 2),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                             x -> len(x) > 0) AS ts
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, i AS s, i + 7 AS e,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i : i+7], ' ')), 1, 15)) AS BIGINT) AS fp
             |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM toks)),
             |dup AS (SELECT fp FROM win GROUP BY fp HAVING COUNT(*) >= 2),
             |ds AS (SELECT doc_id, s, e FROM win WHERE fp IN (SELECT fp FROM dup)),
             |isl AS (
             |  SELECT doc_id, s, e,
             |         SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
             |    FROM (SELECT doc_id, s, e,
             |                 MAX(e) OVER (PARTITION BY doc_id ORDER BY s
             |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |            FROM ds)),
             |sp AS (SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se FROM isl GROUP BY doc_id, island),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(se - ss + 1) AS BIGINT) AS n_dup_tokens,
             |         string_agg(ss || '-' || se, ',' ORDER BY ss) AS spans
             |    FROM sp GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(a.n_spans, 0) AS n_spans,
             |       COALESCE(a.n_dup_tokens, 0) AS n_dup_tokens,
             |       COALESCE(a.spans, '') AS spans
             |  FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Exact-integer Lloyd's k-means over the embeddings table — the
    // IVF coarse quantizer / SemDeDup grouping primitive as a
    // standalone oracle-exact operator (ops/Clustering scaladoc for
    // the determinism + scale story: map-only assignment with
    // literal centroids, k·dim-row update shuffle, k·dim driver
    // state). k=4, 2 update rounds, floor(x·1000) codes; the oracle
    // unrolls the identical chain (id-init, integer distances,
    // (dist, cid) tie-break, floor-mean update, vanishing empty
    // clusters).
    QueryDef(
      "l69_kmeans",
      (s, d) => Clustering.kmeans(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2, scale = 1000),
      Some(Clustering.kmeansOracleSql(k = 4, iters = 2, dim = 64, scale = 1000))),

    // Signed random projection (Johnson–Lindenstrauss) of the
    // embeddings to 16 dims: the embedding-compression scale path for
    // cheap candidate distances. Sign matrix is a fixed integer mix —
    // Spark bakes it into one codegen'd map-only projection (zero
    // shuffle, zero state); the oracle re-derives every sign
    // symbolically with the same BIGINT arithmetic.
    QueryDef(
      "l70_random_projection",
      (s, d) => Clustering.randomProject(
        Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, outDim = 16, scale = 1000),
      Some(Clustering.randomProjectOracleSql(dim = 64, outDim = 16, scale = 1000))),

    // SemDeDup (Abbas et al. 2023): k-means the embedding space, prune
    // cosine near-duplicates WITHIN clusters — the cluster bound is
    // what keeps semantic dedup off the all-pairs cliff at corpus
    // scale. Composes l69's exact-integer clustering with l09's
    // bit-pinned cosine; keep rule = lowest id per over-threshold
    // neighborhood, re-derived wholesale by the oracle.
    QueryDef(
      "l71_semdedup",
      (s, d) => Clustering.semDedup(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2, tau = 0.3, scale = 1000),
      Some(Clustering.semDedupOracleSql(
        k = 4, iters = 2, dim = 64, scale = 1000, tau = 0.3))),

    // 2H: streaming corpus-quality monitor run in BATCH mode (the
    // oracle twin): curation-rules pass rate per event-time minute.
    // The same QualityMonitor.windowedPassRate runs unchanged as a
    // watermarked streaming query (QualityMonitorSpec drives it with
    // a MemoryStream).
    QueryDef(
      "h04_stream_pass_rate",
      (s, d) =>
        graft.streaming.QualityMonitor.windowedPassRate(
          Tables.documents(s, d).select(
            timestamp_seconds(lit(1704067200L) + col("doc_id") % 600)
              .as("ts"),
            col("text"), col("lang")),
          "ts", "text", "lang", windowDur = "60 seconds", minTokens = 40),
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |sig AS MATERIALIZED (
             |  SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts) END
             |           AS mean_token_len,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(len(list_filter(ts, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) / len(ts) END
             |           AS alpha_frac,
             |         list_has_any(ts, ['the', 'a', 'and', 'of', 'to', 'in']) AS has_stop
             |    FROM t),
             |r AS (
             |  SELECT doc_id,
             |         CASE WHEN n_tokens < 40 THEN 'too_short'
             |              WHEN n_tokens > 100000 THEN 'too_long'
             |              WHEN mean_token_len < 3.0 OR mean_token_len > 10.0 THEN 'token_len'
             |              WHEN alpha_frac < 0.8 THEN 'alpha'
             |              WHEN NOT has_stop THEN 'stopwords'
             |              WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
             |         END AS drop_reason
             |    FROM sig),
             |g AS (
             |  SELECT 1704067200 + (doc_id % 600) // 60 * 60 AS es,
             |         (drop_reason IS NULL) AS keep
             |    FROM r)
             |SELECT strftime(make_timestamp(es * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
             |       COUNT(*) AS n_docs,
             |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |       (CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000) // COUNT(*) AS pass_rate_milli
             |  FROM g GROUP BY es""".stripMargin)),

    // Streaming OOV-rate drift monitor run in BATCH mode (the oracle
    // twin): per event-time minute, the fraction of arriving tokens
    // absent from a static reference vocabulary (here: the even-doc
    // half of the corpus). The streaming-feasible slice of l61's
    // drift — scalar state per window, stream-static broadcast join
    // for membership; QualityMonitorSpec drives the same function
    // through MemoryStream.
    QueryDef(
      "h05_stream_oov_rate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ref = docs.filter(col("doc_id") % 2 === 0)
          .select(explode(graft.ops.TextCols.toks(col("text"))).as("word"))
          .distinct()
        graft.streaming.QualityMonitor.windowedOovRate(
          docs.select(
            timestamp_seconds(lit(1704067200L) + col("doc_id") % 600)
              .as("ts"),
            col("text")),
          "ts", "text", ref, windowDur = "60 seconds")
      },
      Some(s"""WITH ref AS (
             |  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok
             |    FROM documents WHERE doc_id % 2 = 0),
             |toks AS (
             |  SELECT doc_id, 1704067200 + (doc_id % 600) // 60 * 60 AS es,
             |         unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                x -> len(x) > 0)) AS tok
             |    FROM documents),
             |j AS (
             |  SELECT t.es, t.doc_id, (r.tok IS NULL) AS oov
             |    FROM toks t LEFT JOIN ref r ON t.tok = r.tok)
             |SELECT strftime(make_timestamp(es * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
             |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |       COUNT(*) AS n_tokens,
             |       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |       (CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) * 1000) // COUNT(*) AS oov_rate_milli
             |  FROM j GROUP BY es""".stripMargin)),

    // Per-document n-gram novelty vs the previous corpus snapshot
    // (freshness / memorization-risk triage between generations):
    // old = even doc_ids, new = odd; novelty = unseen-gram fraction in
    // exact integer milli. Same fingerprint machinery as l23 with the
    // membership inverted; oracle re-derives both snapshots' distinct
    // 8-gram fingerprints and the integer ratio.
    QueryDef(
      "l78_ngram_novelty",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontaminate.ngramNovelty(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", n = 8)
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
             |    FROM toks),
             |grams AS (
             |  SELECT DISTINCT doc_id,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15))
             |              AS BIGINT) AS fp
             |    FROM win),
             |old AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 2 = 0)
             |SELECT g.doc_id, COUNT(*) AS n_grams,
             |       CAST(SUM(CASE WHEN o.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       (CAST(SUM(CASE WHEN o.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000)
             |         // COUNT(*) AS novelty_milli
             |  FROM grams g LEFT JOIN old o USING (fp)
             | WHERE g.doc_id % 2 = 1
             | GROUP BY g.doc_id""".stripMargin)),

    // Audio envelope-signature dedup — the audio twin of the image
    // dHash family (l56): real WAV decode through the JDK codec, a
    // K=8-bucket integer energy-envelope signature (cross-multiplied
    // bit rule, no division), exact signature grouping. Duplicates
    // planted via contentMod=50; the oracle re-derives the PCM from
    // the generative formula (the l22 pattern), the bucket sums, the
    // bit rule, and the grouping.
    QueryDef(
      "l77_audio_sig_dedup",
      (s, d) => Multimodal.audioSigDedup(
        Multimodal.syntheticAudio(Tables.documents(s, d), 200,
          contentMod = 50), buckets = 8),
      Some("""WITH auds AS (
             |  SELECT doc_id AS media_id, doc_id % 50 AS cid,
             |         CAST(1 + (doc_id % 50) % 2 AS INTEGER) AS channels,
             |         CAST(40 + (doc_id % 50) % 25 AS INTEGER) AS n
             |    FROM documents WHERE doc_id < 200),
             |fa AS (
             |  SELECT media_id, n,
             |         list_transform(generate_series(0, n - 1), t ->
             |           list_sum(list_transform(generate_series(0, channels - 1), c ->
             |             abs(((cid * 7919 + c * 104729 + t * 1299721) % 65536) - 32768)))) AS f
             |    FROM auds),
             |sg AS (
             |  SELECT media_id,
             |         CAST(list_sum(list_transform(generate_series(0, 7), k ->
             |           CASE WHEN
             |             list_sum(list_transform(generate_series(0, len(f) - 1), t ->
             |               CASE WHEN (t * 8) // len(f) = k THEN f[t + 1] ELSE 0 END)) * len(f)
             |             > list_sum(f) *
             |               list_sum(list_transform(generate_series(0, len(f) - 1), t ->
             |                 CASE WHEN (t * 8) // len(f) = k THEN 1 ELSE 0 END))
             |           THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS BIGINT) AS sig
             |    FROM fa)
             |SELECT media_id, sig,
             |       COUNT(*) OVER (PARTITION BY sig) AS group_n,
             |       media_id != MIN(media_id) OVER (PARTITION BY sig) AS is_dup
             |  FROM sg""".stripMargin)),

    // The composed ingest pipeline — the "user story" row: curation
    // rules gate → decontamination by span excision (benchmark = the
    // external eval set, NOT subject to curation) → temperature-
    // balanced language mix over the CLEANED text. Three oracle-green
    // operators composed end-to-end, and the oracle re-derives the
    // whole chain (rules, window fingerprints, island merge, token
    // rebuild, √n rates, md5 membership) — proving the pieces compose
    // without seams, the way a production ingest runs them.
    QueryDef(
      "l76_ingest_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // r15: the fused excision consumes its corpus once and carries
        // `lang` through (no re-attach join), so `kept` needs no
        // materialization; the excision OUTPUT is still shared by
        // temperatureMix's two passes and the final span-count join —
        // one columnar persist (the x17 §5 rule for ≥3-read frames)
        val kept = Curation.gopherReason(docs, "text", "lang", minTokens = 40)
          .filter(col("drop_reason").isNull)
        val excised = Decontaminate.decontaminateExcise(kept,
          docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", n = 8,
          carryCols = Seq("lang"))
          .persist()
        val mixed = Sampling.temperatureMix(
          excised.select(col("doc_id"),
            col("cleaned_text").as("text"), col("lang")),
          "doc_id", "text", "lang", budgetDocs = 100L)
        mixed.join(excised.select(col("doc_id"), col("n_spans"),
            col("n_removed_tokens")), "doc_id")
          .select(col("doc_id"), col("stratum"),
            col("n_spans"), col("n_removed_tokens"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang, text,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts,
             |         list_filter(string_split_regex(text, '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS raw
             |    FROM documents),
             |sig AS MATERIALIZED (
             |  SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts) END
             |           AS mean_token_len,
             |         CASE WHEN len(ts) > 0
             |              THEN CAST(len(list_filter(ts, x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) / len(ts) END
             |           AS alpha_frac,
             |         list_has_any(ts, ['the', 'a', 'and', 'of', 'to', 'in']) AS has_stop
             |    FROM t),
             |keepd AS (
             |  SELECT doc_id FROM sig
             |   WHERE CASE WHEN n_tokens < 40 THEN 'too_short'
             |              WHEN n_tokens > 100000 THEN 'too_long'
             |              WHEN mean_token_len < 3.0 OR mean_token_len > 10.0 THEN 'token_len'
             |              WHEN alpha_frac < 0.8 THEN 'alpha'
             |              WHEN NOT has_stop THEN 'stopwords'
             |              WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
             |         END IS NULL),
             |win AS (
             |  SELECT doc_id, i AS s, i + 7 AS e,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i : i+7], ' ')), 1, 15)) AS BIGINT) AS fp
             |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM t)),
             |bfp AS (SELECT DISTINCT fp FROM win WHERE doc_id % 23 = 0),
             |ds AS (SELECT w.doc_id, w.s, w.e
             |         FROM win w JOIN bfp USING (fp) JOIN keepd k ON k.doc_id = w.doc_id),
             |isl AS (
             |  SELECT doc_id, s, e,
             |         SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
             |    FROM (SELECT doc_id, s, e,
             |                 MAX(e) OVER (PARTITION BY doc_id ORDER BY s
             |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |            FROM ds)),
             |sp AS (SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se FROM isl GROUP BY doc_id, island),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_spans,
             |         CAST(SUM(se - ss + 1) AS BIGINT) AS n_removed_tokens
             |    FROM sp GROUP BY doc_id),
             |keptt AS (
             |  SELECT x.doc_id, x.i, x.raw[x.i] AS tok
             |    FROM (SELECT t.doc_id, t.raw, unnest(generate_series(1, len(t.raw))) AS i
             |            FROM t JOIN (SELECT DISTINCT doc_id FROM sp) c USING (doc_id)) x
             |   WHERE NOT EXISTS (SELECT 1 FROM sp
             |                      WHERE sp.doc_id = x.doc_id AND x.i BETWEEN sp.ss AND sp.se)),
             |cleanedc AS (
             |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
             |    FROM keptt GROUP BY doc_id),
             |clean AS (
             |  SELECT k.doc_id, t.lang,
             |         CASE WHEN a.doc_id IS NULL THEN t.text
             |              ELSE COALESCE(cc.cleaned, '') END AS ctext,
             |         COALESCE(a.n_spans, 0) AS n_spans,
             |         COALESCE(a.n_removed_tokens, 0) AS n_removed_tokens
             |    FROM keepd k JOIN t USING (doc_id)
             |         LEFT JOIN agg a ON a.doc_id = k.doc_id
             |         LEFT JOIN cleanedc cc ON cc.doc_id = k.doc_id),
             |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY lang),
             |w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
             |tot AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS tw FROM w),
             |r AS (SELECT lang,
             |             CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
             |               ((CAST(100 AS DOUBLE) * w) / tot.tw) / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS milli
             |        FROM w, tot)
             |SELECT cl.doc_id, cl.lang AS stratum, cl.n_spans, cl.n_removed_tokens
             |  FROM clean cl JOIN r USING (lang)
             | WHERE COALESCE(CAST(('0x' || substr(md5(cl.ctext), 1, 8)) AS BIGINT) % 10000, 0) < r.milli""".stripMargin)),

    // Temperature-balanced multilingual mix (mC4/XLM-R recipe): keep
    // rates derived from the corpus's own per-language counts with
    // share ∝ n^0.5 — τ fixed at sqrt because IEEE sqrt is correctly
    // rounded cross-engine while pow is not (the documented
    // determinism boundary). The oracle re-derives counts, the
    // ascending-stratum-order W fold (list_reduce over list(w ORDER BY
    // lang) — a plain SUM's association is engine-private), the capped
    // rates, and the md5-bucket membership.
    QueryDef(
      "l75_temperature_mix",
      (s, d) => Sampling.temperatureMix(
        Tables.documents(s, d), "doc_id", "text", "lang",
        budgetDocs = 200L),
      Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
             |w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
             |tot AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS tw FROM w),
             |r AS (SELECT lang,
             |             CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
             |               ((CAST(200 AS DOUBLE) * w) / tot.tw) / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS milli
             |        FROM w, tot)
             |SELECT d.doc_id, d.lang AS stratum
             |  FROM documents d JOIN r USING (lang)
             | WHERE COALESCE(CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT) % 10000, 0) < r.milli""".stripMargin)),

    // Decontamination by SPAN EXCISION (the removal step of Lee et
    // al.'s recipe — l23 flags leaked docs, this one CUTS the leaked
    // spans and keeps the document): 8-token window fingerprints
    // matched against the benchmark set (doc_id % 23 = 0, as l23),
    // island-merged to maximal spans, excised token-exactly from the
    // ORIGINAL text (case preserved; excision canonicalizes
    // whitespace; untouched docs keep their exact original text).
    // The oracle re-derives tokenization, the md5-prefix window
    // fingerprints, the membership join, the island merge, and the
    // token-by-token rebuild.
    QueryDef(
      "l74_decontaminate_excise",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontaminate.decontaminateExcise(docs,
          docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", n = 8)
      },
      Some(s"""WITH tok AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS ts,
             |         list_filter(string_split_regex(text, '[${graft.kernel.TextKernel.WsChars}]+'),
             |                     x -> len(x) > 0) AS raw
             |    FROM documents),
             |win AS (
             |  SELECT doc_id, i AS s, i + 7 AS e,
             |         CAST(('0x' || substr(md5(array_to_string(ts[i : i+7], ' ')), 1, 15)) AS BIGINT) AS fp
             |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM tok)),
             |bfp AS (SELECT DISTINCT fp FROM win WHERE doc_id % 23 = 0),
             |ds AS (SELECT w.doc_id, w.s, w.e FROM win w JOIN bfp USING (fp)),
             |isl AS (
             |  SELECT doc_id, s, e,
             |         SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
             |    FROM (SELECT doc_id, s, e,
             |                 MAX(e) OVER (PARTITION BY doc_id ORDER BY s
             |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |            FROM ds)),
             |sp AS (SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se FROM isl GROUP BY doc_id, island),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_spans,
             |         CAST(SUM(se - ss + 1) AS BIGINT) AS n_removed_tokens
             |    FROM sp GROUP BY doc_id),
             |kept AS (
             |  SELECT x.doc_id, x.i, x.raw[x.i] AS tok
             |    FROM (SELECT t.doc_id, t.raw, unnest(generate_series(1, len(t.raw))) AS i
             |            FROM tok t JOIN (SELECT DISTINCT doc_id FROM sp) c USING (doc_id)) x
             |   WHERE NOT EXISTS (SELECT 1 FROM sp
             |                      WHERE sp.doc_id = x.doc_id AND x.i BETWEEN sp.ss AND sp.se)),
             |cleanedc AS (
             |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
             |    FROM kept GROUP BY doc_id)
             |SELECT d.doc_id,
             |       COALESCE(a.n_spans, 0) AS n_spans,
             |       COALESCE(a.n_removed_tokens, 0) AS n_removed_tokens,
             |       CASE WHEN a.doc_id IS NULL THEN d.text
             |            ELSE COALESCE(cc.cleaned, '') END AS cleaned_text
             |  FROM documents d LEFT JOIN agg a USING (doc_id)
             |       LEFT JOIN cleanedc cc ON cc.doc_id = d.doc_id""".stripMargin)),

    // HITS hubs & authorities (Kleinberg 1999) over the same derived
    // link graph as l65 — the link-analysis complement to PageRank
    // for crawl curation (authorities = content worth ingesting, hubs
    // = link pages worth re-crawling). Textbook sequential sweep
    // (a_t from h_{t−1}, then h_t from the NEW a_t), L1-normalized;
    // the oracle unrolls both iterations with the same LEFT JOIN +
    // COALESCE shape as the PageRank chains.
    QueryDef(
      "l73_hits",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            ((col("doc_id") * 37 + 11) % n).as("dst"))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 53 + 7) % n))
          .union(docs.select(col("doc_id"),
            (col("doc_id") * 97 + 3) % n))
        GraphRank.hits(edges, iters = 2)
          .select(col("id").as("doc_id"), col("hub"), col("auth"))
      },
      Some {
        val iterations = (1 to 2).map { t =>
          val prevHub = if (t == 1) "s0" else s"h${t - 1}"
          s""",
             |a${t}r AS (
             |  SELECT d.doc_id AS id, COALESCE(SUM($prevHub.hub), CAST(0 AS DOUBLE)) AS ra
             |    FROM documents d LEFT JOIN e ON e.dst = d.doc_id
             |         LEFT JOIN $prevHub ON $prevHub.id = e.src
             |   GROUP BY d.doc_id),
             |a$t AS (SELECT id, ra / (SELECT SUM(ra) FROM a${t}r) AS auth FROM a${t}r),
             |h${t}r AS (
             |  SELECT d.doc_id AS id, COALESCE(SUM(a$t.auth), CAST(0 AS DOUBLE)) AS rh
             |    FROM documents d LEFT JOIN e ON e.src = d.doc_id
             |         LEFT JOIN a$t ON a$t.id = e.dst
             |   GROUP BY d.doc_id),
             |h$t AS (SELECT id, rh / (SELECT SUM(rh) FROM h${t}r) AS hub FROM h${t}r)""".stripMargin
        }.mkString
        s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
           |e AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT doc_id AS src, (doc_id*37 + 11) % nn.n AS dst FROM documents, nn
           |    UNION ALL SELECT doc_id, (doc_id*53 + 7) % nn.n FROM documents, nn
           |    UNION ALL SELECT doc_id, (doc_id*97 + 3) % nn.n FROM documents, nn)),
           |s0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE)/nn.n AS hub FROM documents, nn)$iterations
           |SELECT h2.id AS doc_id, h2.hub AS hub, a2.auth AS auth
           |  FROM h2 JOIN a2 USING (id)""".stripMargin
      }),

    // Maximal Marginal Relevance diversification (Carbonell &
    // Goldstein 1998): greedily re-rank ANN candidates by
    // λ·rel − (1−λ)·max-sim-to-selected — the diversifier between a
    // retriever and a RAG context window. Query = vec 0's embedding;
    // candidates = every other vector with its cosine relevance; k=5,
    // λ=0.5. The oracle unrolls all five greedy steps (each a NOT-IN
    // filter + correlated MAX over the selected set + top-1 under the
    // identical (score DESC, vec_id) order) with the bit-pinned
    // left-fold cosine on both sides.
    QueryDef(
      "l72_mmr_diversify",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q0 = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qemb"),
            Similarity.norm(col("embedding")).as("qnrm"))
        val cands = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q0))
          .select(col("vec_id"), col("embedding"),
            (Similarity.dot(col("embedding"), col("qemb")) /
              (Similarity.norm(col("embedding")) * col("qnrm"))).as("rel"))
        Retrieval.mmrDiversify(cands, "vec_id", "embedding", "rel",
          k = 5, lambda = 0.5)
      },
      Some {
        def dot(a: String, b: String) = duckDot(a, b)
        // per-candidate max-sim via a cross join + GROUP BY, not a
        // correlated subquery: DuckDB's list lambdas cannot capture a
        // correlated outer alias ("Referenced table c not found")
        val steps = (2 to 5).map { n =>
          s""",
             |m$n AS (
             |  SELECT c.vec_id,
             |         MAX(${dot("c.embedding", "s.embedding")} / (c.nrm * s.nrm)) AS msim
             |    FROM candn c CROSS JOIN sel${n - 1} s
             |   WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
             |   GROUP BY c.vec_id),
             |s$n AS (
             |  SELECT vec_id, embedding, nrm, rel, score, CAST($n AS BIGINT) AS rank FROM (
             |    SELECT c.vec_id, c.embedding, c.nrm, c.rel,
             |           0.5 * c.rel - 0.5 * m.msim AS score
             |      FROM candn c JOIN m$n m USING (vec_id))
             |   ORDER BY score DESC, vec_id LIMIT 1),
             |sel$n AS (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n)""".stripMargin
        }.mkString
        s"""WITH q0 AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
           |candn AS MATERIALIZED (
           |  SELECT c.vec_id, c.embedding,
           |         sqrt(${dot("c.embedding", "c.embedding")}) AS nrm,
           |         ${dot("c.embedding", "q.embedding")} /
           |           (sqrt(${dot("c.embedding", "c.embedding")}) *
           |            sqrt(${dot("q.embedding", "q.embedding")})) AS rel
           |    FROM embeddings c, q0 q WHERE c.vec_id != 0),
           |s1 AS (
           |  SELECT vec_id, embedding, nrm, rel, 0.5 * rel AS score,
           |         CAST(1 AS BIGINT) AS rank
           |    FROM candn ORDER BY 0.5 * rel DESC, vec_id LIMIT 1),
           |sel1 AS (SELECT * FROM s1)$steps
           |SELECT rank, vec_id, ROUND(score, 6) AS score FROM sel5""".stripMargin
      }),

    // Streaming embedding-drift monitor run in BATCH mode (the oracle
    // twin): a k-means model trained on the accepted half of the
    // corpus (even vec_ids), every arriving vector scored by exact
    // integer distance to its nearest centroid — a stateless map, the
    // model rides the plan as one reference object — and windowed
    // mean-distance / far-rate stats. The vector-side counterpart of
    // h05's OOV tripwire: catches an embedding regime change (new
    // content domain, encoder swap) online. The oracle re-derives the
    // TRAINING (unrolled Lloyd's over the model half) and the scoring.
    // QualityMonitorSpec drives the same function through MemoryStream.
    QueryDef(
      "h06_stream_embedding_drift",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val model = Clustering.kmeansCentroids(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          k = 4, iters = 2)
        graft.streaming.QualityMonitor.windowedEmbeddingDrift(
          emb.select(
            timestamp_seconds(lit(1704067200L) + col("vec_id") % 600)
              .as("ts"),
            col("embedding")),
          "ts", "embedding", model, farThreshold = 1900000L)
      },
      Some(Clustering.driftOracleSql(k = 4, iters = 2, dim = 64,
        scale = 1000, farThreshold = 1900000L,
        modelSource = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)"))),

    // The COMPLETE production LSH dedup pipeline in one registration
    // (new r10): minhash band pairs (the l03 machinery) → connected
    // components over the VERIFIED pair graph → keep-best canonical
    // per component (RefinedWeb keep-the-longest, the l47 rule).
    // Unlike l12/l47 — whose pair set is the deterministic
    // consecutive-id kernel — this runs dedup the way production does:
    // candidates from banded LSH, so components are arbitrary sparse
    // graphs. The oracle re-derives the full chain; its recursive-CTE
    // closure is safe HERE precisely because LSH pair graphs are
    // sparse (256 pairs / tiny components at sf0.1 — the quadratic
    // reach-set blowup that forced l12's islands rewrite cannot occur
    // without a dense pair set).
    QueryDef(
      "l79_lsh_dedup_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
            shingleN = 5, numHashes = 64, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b"))
        Dedup.keepBest(docs, Dedup.connectedComponents(pairs),
          "doc_id", "n_chars")
      },
      Some(s"""WITH RECURSIVE ${duckCwBandCtes()},
              |cand AS (
              |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
              |    FROM banded l JOIN banded r
              |      ON l.band = r.band AND l.band_hash = r.band_hash AND l.id < r.id),
              |pairs AS MATERIALIZED (
              |  SELECT c.id_a, c.id_b
              |    FROM cand c JOIN base a ON a.id = c.id_a
              |                JOIN base b ON b.id = c.id_b
              |   WHERE ${duckJaccardSets("a.shs", "b.shs")} >= 0.4),
              |edges AS MATERIALIZED (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT src AS id, src AS r FROM edges
              |  UNION
              |  SELECT e.src, t.r FROM edges e JOIN reach t ON e.dst = t.id),
              |comp AS MATERIALIZED (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
              |scored AS (
              |  SELECT c.component, c.id, d.n_chars AS score
              |    FROM comp c JOIN documents d ON d.doc_id = c.id),
              |best AS (
              |  SELECT component, COUNT(*) AS n_members, MAX(score) AS best_score
              |    FROM scored GROUP BY component),
              |sel AS (
              |  SELECT b.component, b.n_members, MIN(s.id) AS keep_id, b.best_score
              |    FROM best b JOIN scored s
              |      ON s.component = b.component AND s.score = b.best_score
              |   GROUP BY 1, 2, 4)
              |SELECT component, n_members, keep_id, best_score FROM sel
              |UNION ALL
              |SELECT doc_id AS component, 1 AS n_members, doc_id AS keep_id,
              |       n_chars AS best_score
              |  FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)""".stripMargin)),

    // Luhn-verified credit-card scrubbing (new r10): the PII step l19
    // deliberately leaves out — a 13–19-digit run is only a PAN if its
    // check digit validates, and scrubbing unverified digit runs
    // destroys order ids / timestamps real corpora are full of. The
    // checksum is pure positional integer arithmetic (double every
    // second digit from the right, subtract 9 over 9, sum ≡ 0 mod 10)
    // — both engines fold the identical expression, so the decision is
    // bit-exact. Each doc gets a deterministic synthetic 16-digit run
    // (~10% Luhn-valid by construction); only verified runs scrub.
    QueryDef(
      "l80_luhn_cc_scrub",
      (s, d) => {
        val num = lpad((col("doc_id") * lit(7919L) % lit(1000000000000000L))
          .cast("string"), 16, "0")
        val t = concat(col("text"), lit(" order ref "), num, lit(" end"))
        val valid = TextStats.luhnValid(num)
        Tables.documents(s, d).select(
          col("doc_id"),
          valid.as("luhn_valid"),
          when(valid, regexp_replace(t, "\\b\\d{16}\\b", "<CC>"))
            .otherwise(t).as("scrubbed"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |         lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 16, '0') AS num,
             |         text AS t FROM documents),
             |v AS (
             |  SELECT doc_id, num, t,
             |         (list_sum(list_transform(generate_series(1, 16), i ->
             |            CASE WHEN i % 2 = 0
             |                 THEN CASE WHEN CAST(num[17 - i] AS INTEGER) * 2 > 9
             |                           THEN CAST(num[17 - i] AS INTEGER) * 2 - 9
             |                           ELSE CAST(num[17 - i] AS INTEGER) * 2 END
             |                 ELSE CAST(num[17 - i] AS INTEGER) END)) % 10) = 0 AS luhn_valid
             |    FROM p)
             |SELECT doc_id, luhn_valid,
             |       CASE WHEN luhn_valid
             |            THEN regexp_replace(t || ' order ref ' || num || ' end',
             |                                '\b\d{16}\b', '<CC>', 'g')
             |            ELSE t || ' order ref ' || num || ' end' END AS scrubbed
             |  FROM v""".stripMargin)),

    // Streaming decontamination leak-rate monitor run in BATCH mode
    // (the oracle twin; new r10) — the ONLINE half of l74: benchmark
    // window fingerprints ride the plan as one broadcast set, every
    // arriving doc is scored statelessly (leaked-window count), and
    // the only stateful operator is the windowed aggregate. The same
    // function runs as a watermarked streaming query
    // (QualityMonitorSpec, MemoryStream). Benchmark = the %23 doc
    // slice, l74's convention.
    QueryDef(
      "h07_stream_leak_rate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // benchmark fingerprints are eval-suite-sized by contract —
        // enforce it loudly (the temperatureMix/mmr guard pattern)
        // rather than letting a corpus-sized "benchmark" OOM the
        // driver collect; a set too big to broadcast belongs on the
        // decontaminateBloom path instead.
        val maxFps = 5000000
        val fps0 = Decontaminate.fingerprints(
            docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", n = 8)
          .select(col("fp")).distinct()
          .limit(maxFps + 1).collect().map(_.getLong(0))
        require(fps0.length <= maxFps,
          s"h07: benchmark fingerprint set exceeds $maxFps — use " +
            "decontaminateBloom for benchmark sets too large to broadcast")
        val fps = fps0
        graft.streaming.QualityMonitor.windowedLeakRate(
          docs.select(
            timestamp_seconds(lit(1704067200L) + col("doc_id") % 600)
              .as("ts"),
            col("text")),
          "ts", "text", fps, n = 8)
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id,
              |         list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
              |                     x -> len(x) > 0) AS ts
              |    FROM documents),
              |win AS (
              |  SELECT doc_id,
              |         CAST(('0x' || substr(md5(array_to_string(ts[i : i+7], ' ')), 1, 15)) AS BIGINT) AS fp
              |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM tok)),
              |bfp AS (SELECT DISTINCT fp FROM win WHERE doc_id % 23 = 0),
              |wl AS (
              |  SELECT w.doc_id, COUNT(*) AS n_grams,
              |         CAST(SUM(CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_leaked
              |    FROM win w LEFT JOIN bfp b USING (fp) GROUP BY w.doc_id),
              |per AS (
              |  SELECT d.doc_id,
              |         COALESCE(wl.n_grams, 0) AS n_grams,
              |         COALESCE(wl.n_leaked, 0) AS n_leaked
              |    FROM documents d LEFT JOIN wl USING (doc_id)),
              |g AS (SELECT 1704067200 + (doc_id % 600) // 60 * 60 AS es, n_grams, n_leaked FROM per)
              |SELECT strftime(make_timestamp(es * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
              |       COUNT(*) AS n_docs,
              |       CAST(SUM(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_leaked,
              |       CAST(SUM(n_grams) AS BIGINT) AS n_grams,
              |       CAST(SUM(n_leaked) AS BIGINT) AS n_leaked,
              |       CASE WHEN SUM(n_grams) = 0 THEN CAST(0 AS BIGINT)
              |            ELSE CAST((CAST(SUM(n_leaked) AS BIGINT) * 1000)
              |                      // CAST(SUM(n_grams) AS BIGINT) AS BIGINT) END AS leak_rate_milli
              |  FROM g GROUP BY es""".stripMargin)),

    // Corpus vocabulary growth per source (new r10): total tokens,
    // distinct tokens, and the integer-milli type-token ratio — the
    // Heaps-law corpus-health signal (a source whose vocabulary stops
    // growing is template spam; one whose TTR spikes is OCR noise).
    // Distinct counting shuffles (source, token) KEYS only; text never
    // moves.
    QueryDef(
      "l82_vocab_growth",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.ops.TextCols.toks(col("text"))).as("tok"))
        toks.groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("tok")).as("n_distinct"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            // div, not `/`: Spark's `/` on longs is DOUBLE division
            expr("(n_distinct * 1000) div n_tokens").as("ttr_milli"))
      },
      Some(s"""WITH t AS (
              |  SELECT source,
              |         unnest(list_filter(string_split_regex(lower(text), '[${graft.kernel.TextKernel.WsChars}]+'),
              |                            x -> len(x) > 0)) AS tok
              |    FROM documents)
              |SELECT source, COUNT(*) AS n_tokens,
              |       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
              |       (CAST(COUNT(DISTINCT tok) AS BIGINT) * 1000) // COUNT(*) AS ttr_milli
              |  FROM t GROUP BY source""".stripMargin)),

    // MOSS winnowing similarity pairs (new r10) — the sixth dedup
    // family: winnowed fingerprint sets (k=8, w=4 — the l07 counting
    // row's set, materialized) matched across documents; a pair means
    // ≥minShared guaranteed-detected shared substrings of length
    // ≥ k+w−1. Catches partial containment (a lifted paragraph) that
    // whole-doc Jaccard dilutes. df-pruning (2 ≤ df ≤ 8) bounds every
    // fingerprint bucket BEFORE the pair join — boilerplate can't
    // create a quadratic task by construction.
    QueryDef(
      "l81_winnow_similarity",
      (s, d) => Dedup.winnowSimilarityPairs(
        Tables.documents(s, d), "doc_id", "text",
        k = 8, w = 4, minShared = 2, maxDf = 8),
      Some("""WITH g AS (
             |  SELECT doc_id,
             |         list_transform(generate_series(1, greatest(length(text) - 7, 0)), i ->
             |           CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)) AS grams
             |    FROM documents),
             |f AS (
             |  SELECT doc_id,
             |         CASE WHEN len(grams) <= 4 THEN list_distinct(grams)
             |              ELSE list_distinct(list_transform(
             |                     generate_series(1, len(grams) - 3), s2 ->
             |                       list_min(grams[s2 : s2 + 3]))) END AS fset
             |    FROM g),
             |u AS (SELECT doc_id AS id, unnest(fset) AS fp FROM f),
             |rare AS (SELECT fp FROM u GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 8),
             |kept AS (SELECT u.id, u.fp FROM u JOIN rare USING (fp))
             |SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
             |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
             | GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),

    // Video keyframe perceptual dedup (r11 verdict #6 — the last
    // faked modality made real): motion-PNG AVI clips generated from
    // a (id, frame, x, y) pixel formula (VideoCodec encode), RIFF-
    // walked back to frames, each dHash56'd through the REAL image
    // decode, then exact keyframe-level dedup over (frame_no, dhash).
    // PNG frames are lossless, so the oracle re-derives every hash
    // from the formula alone — the l56 pattern plus a frame axis.
    // contentMod=60 plants exact duplicate clips under distinct ids.
    QueryDef(
      "l83_video_keyframe_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // repartition BEFORE the codec UDFs: the testdata scan is one
        // row group = one task, which would serialize all 450 AVI
        // encodes + PNG decodes on a single core (the l21/l56 fixture
        // generators are light enough not to care; a video clip is
        // ~3× an image's ImageIO work)
        val media = Multimodal.syntheticVideos(
          Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
          150, contentMod = 60)
        val fh = Multimodal.videoKeyframeDHash(media, everyN = 1)
        val w = Window.partitionBy(col("frame_no"), col("dhash"))
        fh.select(col("media_id"), col("frame_no").cast("bigint").as("frame_no"),
            col("dhash"))
          .withColumn("group_n", count(lit(1)).over(w))
          .withColumn("is_dup", col("media_id") =!= min(col("media_id")).over(w))
      },
      Some("""WITH g AS (
             |  SELECT doc_id AS media_id, doc_id % 60 AS cid,
             |         3 + (doc_id % 60) % 6 AS w, 3 + (doc_id % 60) % 4 AS h,
             |         2 + (doc_id % 60) % 3 AS nf
             |    FROM documents WHERE doc_id < 150),
             |fr AS (
             |  SELECT media_id, cid, w, h,
             |         unnest(generate_series(0, nf - 1)) AS f
             |    FROM g),
             |hsh AS (
             |  SELECT media_id, CAST(f AS BIGINT) AS frame_no,
             |         CAST(list_sum(flatten(list_transform(generate_series(0, 7), x2 ->
             |           list_transform(generate_series(0, 6), y2 ->
             |             CASE WHEN
             |               (299 * ((cid * 7 + f * 41 + (((x2 + 1) * w) // 9) * 13 + ((y2 * h) // 7) * 31) % 256)
             |                + 587 * ((cid * 11 + f * 43 + (((x2 + 1) * w) // 9) * 17 + ((y2 * h) // 7) * 5) % 256)
             |                + 114 * ((cid * 3 + f * 47 + (((x2 + 1) * w) // 9) * 29 + ((y2 * h) // 7) * 23) % 256)) // 1000
             |               >
             |               (299 * ((cid * 7 + f * 41 + ((x2 * w) // 9) * 13 + ((y2 * h) // 7) * 31) % 256)
             |                + 587 * ((cid * 11 + f * 43 + ((x2 * w) // 9) * 17 + ((y2 * h) // 7) * 5) % 256)
             |                + 114 * ((cid * 3 + f * 47 + ((x2 * w) // 9) * 29 + ((y2 * h) // 7) * 23) % 256)) // 1000
             |             THEN CAST(1 AS BIGINT) << (x2 * 7 + y2) ELSE CAST(0 AS BIGINT) END)))) AS BIGINT) AS dhash
             |    FROM fr)
             |SELECT media_id, frame_no, dhash,
             |       COUNT(*) OVER (PARTITION BY frame_no, dhash) AS group_n,
             |       media_id <> MIN(media_id) OVER (PARTITION BY frame_no, dhash) AS is_dup
             |  FROM hsh""".stripMargin)),

    // WARC → html_to_text ingest (the raw front door of a web-scale
    // corpus): a per-record-gzip WARC fixture generated
    // deterministically from documents (the b-row pattern: fixture
    // derived from the tables, oracle re-derives from the tables and
    // never touches the file), read back through the `warc` DataSource
    // (HTTP split: status/content-type from the header block, payload
    // = body), then boilerplate-stripped by the SHARED Html.Steps
    // regex chain — column expressions in Spark, the identical
    // regexp_replace chain in DuckDB (Html.htmlToTextSql), so the
    // extraction itself is cross-engine-verified, not just the
    // container round-trip. Driver-side fixture write is 120 rows
    // (bounded by the doc_id filter + limit guard).
    QueryDef(
      "l84_warc_html_ingest",
      (s, d) => {
        // Template-version hash in the name: the fixture is keyed by
        // dataset path AND the template constants, so editing
        // WarcHtmlParts/WarcHttpHeader regenerates the file instead of
        // silently reusing a stale tmpdir .warc.gz written by an older
        // build (r12 advice).
        val tver = java.lang.Integer.toHexString(
          (WarcHtmlParts.mkString("\u0000") + WarcHttpHeader).hashCode)
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_l84_" + tver + "_" + new java.io.File(d).getAbsolutePath
            .replaceAll("[^A-Za-z0-9]", "_") + ".warc.gz")
        this.synchronized {
          if (!path.exists()) {
            val rows = Tables.documents(s, d).filter(col("doc_id") < 120)
              .select(col("doc_id"), col("text")).limit(200).collect()
            val out = new java.io.FileOutputStream(path)
            try graft.kernel.WarcCodec.write(out,
              rows.sortBy(_.getLong(0)).iterator.map { r =>
                val id = r.getLong(0)
                val html = WarcHtmlParts(0) + id + WarcHtmlParts(1) + id +
                  WarcHtmlParts(2) + id + WarcHtmlParts(3) + r.getString(1) +
                  WarcHtmlParts(4)
                val http = WarcHttpHeader + html
                (Seq(
                  "WARC-Type" -> "response",
                  "WARC-Target-URI" -> s"https://example.org/doc/$id",
                  "WARC-Date" -> "2026-01-01T00:00:00Z",
                  "WARC-Record-ID" -> s"<urn:graft:$id>",
                  "Content-Type" -> "application/http;msgtype=response"),
                  http.getBytes("UTF-8"))
              }, gzipPerRecord = true)
            finally out.close()
          }
        }
        s.read.format("warc").load(path.getAbsolutePath)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("bigint").as("doc_id"),
            col("warc_type"), col("http_status"), col("http_content_type"),
            col("content_length"),
            graft.ops.Html.htmlToText(decode(col("payload"), "UTF-8"))
              .as("text_out"))
      },
      Some {
        val p = WarcHtmlParts.map(_.replace("'", "''"))
        s"""WITH g AS (
           |  SELECT doc_id,
           |         '${p(0)}' || doc_id || '${p(1)}' || doc_id || '${p(2)}' ||
           |         doc_id || '${p(3)}' || text || '${p(4)}' AS html
           |    FROM documents WHERE doc_id < 120)
           |SELECT doc_id, 'response' AS warc_type, CAST(200 AS INTEGER) AS http_status,
           |       'text/html; charset=utf-8' AS http_content_type,
           |       CAST(${WarcHttpHeader.length} + strlen(html) AS BIGINT) AS content_length,
           |       ${graft.ops.Html.htmlToTextSql("html")} AS text_out
           |  FROM g""".stripMargin
      })
  )

  /** Embedding-space decontamination (l86): the paraphrase-leak check
    * the n-gram overlap family (l23/l33/l74) misses — every corpus
    * vector scored by max cosine against a broadcast benchmark slice,
    * flagged at tau. Oracle re-derives the exact double arithmetic
    * (the l05 convention: same left-to-right dot fold both engines,
    * 6-dp round).
    */
  val semanticQueries: Seq[QueryDef] = Seq(
    QueryDef(
      "l86_semantic_decontamination",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.ops.Decontaminate.semanticDecontaminate(
            emb, emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
            tau = 0.8)
          .select(col("id"), round(col("max_cos"), 6).as("max_cos"),
            col("contaminated"))
      },
      Some(s"""WITH bench AS (
              |  SELECT embedding AS bemb FROM embeddings WHERE vec_id % 97 = 0),
              |scored AS (
              |  SELECT c.vec_id AS id,
              |         MAX(${duckDot("c.embedding", "bemb")} /
              |             (sqrt(${duckDot("c.embedding", "c.embedding")}) *
              |              sqrt(${duckDot("bemb", "bemb")}))) AS max_cos
              |    FROM embeddings c, bench GROUP BY c.vec_id)
              |SELECT id, ROUND(max_cos, 6) AS max_cos,
              |       max_cos >= 0.8 AS contaminated
              |  FROM scored""".stripMargin)),

    // Deterministic fixed-quota per-stratum sample (l88): exactly
    // min(k, |group|) docs per language by md5-hash order — the
    // reproducible reservoir. Spark side rides the O(k)-state TopKAgg
    // (exchange = k candidates per group per task, never the corpus);
    // the oracle re-derives the hash order with a plain window.
    QueryDef(
      "l88_quota_sample",
      (s, d) => Sampling.quotaSample(
        Tables.documents(s, d), "lang", "doc_id", k = 50),
      Some("""WITH h AS (
             |  SELECT lang AS grp, doc_id AS id,
             |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) // 256 AS h
             |    FROM documents),
             |r AS (
             |  SELECT grp, id,
             |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h DESC, id) AS rk
             |    FROM h)
             |SELECT grp, id, rk FROM r WHERE rk <= 50""".stripMargin)),

    // robots.txt compliance gate (l89): per-host robots content is
    // GENERATED from the host number (three user-agent groups — a
    // non-matching specific agent, the applicable '*' group with an
    // Allow/Disallow longest-match tie case and a host-varying rule,
    // and a trailing blanket-deny group for a different agent), URLs
    // from documents hit five path shapes. The REAL parser + RFC 9309
    // longest-match decision runs Spark-side; the oracle knows the
    // generative rule table and re-derives each decision as a CASE —
    // any parser grouping/precedence bug flips a decision and fails
    // the hash.
    QueryDef(
      "l89_robots_gate",
      (s, d) => {
        val hostNo = pmod(col("doc_id"), lit(20))
        val urls = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("https://h"), hostNo.cast("string"), lit(".example.org"),
            element_at(array(lit("/private/ok/page"), lit("/private/secret"),
              lit("/x0/a"), lit("/public/a"), lit("/x1/b")),
              (pmod(col("doc_id"), lit(5)) + 1).cast("int"))).as("url"))
        val robots = s.range(20).select(
          concat(lit("h"), col("id").cast("string"), lit(".example.org")).as("host"),
          concat(
            lit("User-agent: crawler\nDisallow: /never\n\n" +
              "User-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow: /x"),
            pmod(col("id"), lit(3)).cast("string"),
            lit("\n\nUser-agent: other\nDisallow: /\n")).as("robots_txt"))
        graft.ops.UrlOps.robotsFilter(urls, "url", robots)
          .select(col("doc_id"), col("robots_allowed"))
      },
      Some("""SELECT doc_id,
             |       CASE doc_id % 5
             |         WHEN 0 THEN true
             |         WHEN 1 THEN false
             |         WHEN 2 THEN (doc_id % 20) % 3 <> 0
             |         WHEN 3 THEN true
             |         ELSE (doc_id % 20) % 3 <> 1
             |       END AS robots_allowed
             |  FROM documents""".stripMargin)),

    // Aho–Corasick multi-keyword tagging (l90): one O(|text|) scan for
    // the whole term list. Oracle re-derives each count with the SQL
    // replace-arithmetic (non-overlapping == all-positions for these
    // borderless terms); a failure-link or output-merge bug changes a
    // count and fails the hash.
    QueryDef(
      "l90_keyword_tags",
      (s, d) => graft.ops.KeywordTag.tagKeywords(
        Tables.documents(s, d), "doc_id", "text",
        Seq("table", "spark", "window", "fast", "the")),
      Some("""WITH t(term) AS (VALUES ('table'),('spark'),('window'),('fast'),('the')),
             |hits AS (
             |  SELECT doc_id, term,
             |         CAST((strlen(lower(text)) - strlen(replace(lower(text), term, '')))
             |              // strlen(term) AS BIGINT) AS n
             |    FROM documents, t)
             |SELECT doc_id, term, n FROM hits WHERE n > 0""".stripMargin)),

    // Streaming heavy-hitters per event-time window (h09): the
    // Misra–Gries aggregate (mergeable TypedImperativeAggregate,
    // O(k) state — the l29 sketch) under a window groupBy, i.e. the
    // per-window trending-items monitor a feed pipeline runs; the
    // identical agg works under a watermarked streaming window
    // (spec twin). Oracle is exact because event_type cardinality is
    // far below k (the unsaturated-regime convention of l26–l31).
    QueryDef(
      "h09_stream_heavy_hitters",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 day"))
          .agg(Sketches.freqItems(col("event_type"), 64).as("fi"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), expr("inline(fi)"))
          .select(col("window_start"), col("item").as("event_type"),
            col("count_min").as("n")),
      Some("""SELECT strftime(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)),
             |                '%Y-%m-%d %H:%M:%S') AS window_start,
             |       event_type, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2""".stripMargin))
  )

  /** BPE lossless round-trip (l87): train real merges, encode with
    * the SentencePiece word-start marker, decode through pure column
    * expressions — the decoded text must equal the tokenizer's
    * normalized form, which the oracle re-derives INDEPENDENTLY with
    * a lower+whitespace-collapse that never touches the tokenizer.
    * One corrupted piece (dropped char, duplicated symbol, bad merge)
    * across any of the corpus' distinct words fails the hash.
    */
  val bpeRoundTripQueries: Seq[QueryDef] = Seq(
    QueryDef(
      "l87_bpe_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // 100 merges: the round-trip property is merge-count-
        // independent (every merge table partitions each word), and
        // training is the row's dominant cost at the sweep tier
        val merges = BpeTrainer.trainMergesAuto(docs, "text", 100, minFreq = 2)
        BpeTrainer.encodeMarked(docs, "doc_id", "text", merges)
          .select(col("doc_id"),
            BpeTrainer.decodeMarked(col("bpe_tokens")).as("decoded"))
      },
      Some(s"""SELECT doc_id,
              |       trim(regexp_replace(lower(text),
              |                           '[${graft.kernel.TextKernel.WsChars}]+',
              |                           ' ', 'g')) AS decoded
              |  FROM documents""".stripMargin))
  )

  /** l85 appended separately below (COPY WARC round-trip). */
  val copyQueries: Seq[QueryDef] = Seq(
    // COPY WARC → warc-source read-back round-trip: the export side of
    // the l84 ingest pair. documents rows become resource records
    // (headers built from columns, payload = UTF-8 text) written as
    // SHARDED per-record-gzip files by the executors — the a73/a40
    // COPY pattern applied to the crawl container. The read-back must
    // reproduce (doc_id, text) exactly; oracle = the documents table
    // itself, which never touches the files.
    QueryDef(
      "l85_warc_copy_roundtrip",
      (s, d) => {
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_l85_" + new java.io.File(d).getAbsolutePath
            .replaceAll("[^A-Za-z0-9]", "_"))
        dir.mkdirs()
        val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(
            concat(lit("https://example.org/doc/"), col("doc_id")).as("target_uri"),
            lit("resource").as("warc_type"),
            lit("text/plain; charset=utf-8").as("content_type"),
            encode(col("text"), "UTF-8").as("payload"))
          .repartition(4)
        graft.ops.Writers.copyWarcSharded(docs,
          dir.getAbsolutePath + "/part-{SHARD}.warc.gz")
        s.read.format("warc").load(dir.getAbsolutePath + "/part-*.warc.gz")
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("bigint").as("doc_id"),
            col("warc_type"), col("content_type"),
            decode(col("payload"), "UTF-8").as("text"))
      },
      Some("""SELECT doc_id, 'resource' AS warc_type,
             |       'text/plain; charset=utf-8' AS content_type, text
             |  FROM documents WHERE doc_id < 200""".stripMargin))
  )

  /** l84's shared HTML template (Scala fixture writer and DuckDB oracle
    * concatenate the same five literals around doc_id/text), plus the
    * fixed HTTP header block whose byte length the oracle needs for
    * content_length. The template deliberately plants the hazards the
    * extractor must survive: a `<` inside script code, an HTML comment,
    * and a named entity in visible text.
    */
  private lazy val WarcHtmlParts: IndexedSeq[String] = IndexedSeq(
    "<html><head><title>Doc ",
    "</title><style>body { color: red; }</style>" +
      "<script>if (1 < 2) { var x = 1; }</script></head><body><h1>Doc ",
    "</h1><!-- crawl ",
    " --><p>Q&amp;A: ",
    "</p></body></html>")
  private lazy val WarcHttpHeader: String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
}
