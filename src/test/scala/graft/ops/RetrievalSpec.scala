package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma alpha alpha"),       // tf(alpha)=3, dl=5
      (1L, "alpha beta"),                         // short doc, tf(alpha)=1
      (2L, "beta beta beta gamma delta epsilon"), // no alpha
      (3L, "alpha " * 30 + "filler " * 30),       // long doc, tf(alpha)=30, dl=60
      (4L, "zeta eta theta")                      // no query terms at all
    ).toDF("doc_id", "text")
  }

  private def q(text: String) = {
    import spark.implicits._
    Seq((0L, text)).toDF("query_id", "query_text")
  }

  test("bm25: only docs containing a query term are returned, ranked, k-capped") {
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", q("alpha"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.length == 2)                    // k caps the 3 alpha docs
    assert(out.map(_._2).sorted.sameElements(Array(1L, 2L)))
    assert(!out.map(_._1).contains(2L) && !out.map(_._1).contains(4L))
  }

  test("bm25: saturation — tf 30 in a 60-token doc does not swamp tf 3 in a 5-token doc") {
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", q("alpha"), k = 3)
      .collect().sortBy(_.getLong(3)).map(_.getLong(1))
    // doc 0 (dense short doc) must beat doc 1 (tf=1); doc 3's raw tf
    // advantage is damped by k1-saturation and its dl-penalty
    assert(out.head == 0L || out.head == 3L)
    assert(out.indexOf(0L) < out.indexOf(1L))
  }

  test("bm25: multi-term query sums per-term contributions; rarer term weighs more") {
    // "delta" appears in 1 doc, "beta" in 3 — doc 2 holds both
    val rows = Retrieval.bm25TopK(docs, "doc_id", "text", q("beta delta"), k = 5).collect()
    // beta ∪ delta appears in docs 0, 1, 2 only
    assert(rows.map(_.getLong(1)).toSet == Set(0L, 1L, 2L))
    val ranked = rows.sortBy(_.getLong(3)).map(_.getLong(1))
    assert(ranked.head == 2L, s"doc with the rare term must rank first, got ${ranked.toSeq}")
  }

  test("bm25: index form and one-shot form agree exactly") {
    val idx = Retrieval.bm25Index(docs, "doc_id", "text")
    val a = Retrieval.bm25TopKFromIndex(idx, q("alpha beta"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val b = Retrieval.bm25TopK(docs, "doc_id", "text", q("alpha beta"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("bm25: persisted corpus stats give identical output and skip the postings-wide distinct") {
    import spark.implicits._
    val idx = Retrieval.bm25Index(docs, "doc_id", "text")
    val statsRow = Retrieval.bm25IndexStats(idx).collect().map(r =>
      (r.getLong(0), r.getDouble(1)))
    assert(statsRow.sameElements(Array((5L, (5 + 2 + 6 + 60 + 3) / 5.0))))
    // materialized stats, as a deployment would read them back from disk
    val stats = statsRow.toSeq.toDF("n_docs", "avgdl")
    val withStats = Retrieval.bm25TopKFromIndex(idx, q("alpha beta"), k = 5,
        precomputedStats = Some(stats))
    val inline = Retrieval.bm25TopKFromIndex(idx, q("alpha beta"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(withStats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet == inline)
    // the serving plan must not re-derive stats: no avg(dl) aggregate
    // anywhere once the 1-row table is supplied
    val plan = withStats.queryExecution.optimizedPlan.toString
    assert(!plan.contains("avg("), s"stats re-derivation survived:\n$plan")
  }

  test("bm25: query-side joins are broadcast and postings filter precedes the score shuffle") {
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", q("alpha beta"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in:\n$plan")
  }

  test("chunking: full coverage, correct overlap, chunks never cross documents") {
    import spark.implicits._
    val d = Seq((7L, (1 to 13).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Retrieval.chunkTokens(d, "doc_id", "text", chunk = 8, stride = 5)
      .collect().sortBy(_.getLong(1))
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // dl=13: ceil((13-8)/5)+1 = 2 chunks
    assert(out.length == 2)
    assert(out(0) == ((0L, 0L, 8L, (1 to 8).map(i => s"t$i").mkString(" "))))
    assert(out(1) == ((1L, 5L, 8L, (6 to 13).map(i => s"t$i").mkString(" "))))
  }

  test("chunking: short doc yields exactly one whole-doc chunk; empty doc yields none") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "   ")).toDF("doc_id", "text")
    val out = Retrieval.chunkTokens(d, "doc_id", "text", chunk = 8, stride = 5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(3) == 3L
      && r.getString(4) == "a b c")
  }

  test("null text: bm25 and chunking skip the row instead of failing the job") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]), (3L, "alpha"))
      .toDF("doc_id", "text")
    val bm = Retrieval.bm25TopK(d, "doc_id", "text", q("alpha"), k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(bm == Set(1L, 3L))
    val chunks = Retrieval.chunkTokens(d, "doc_id", "text", 8, 5)
      .collect().map(_.getLong(0)).toSet
    assert(chunks == Set(1L, 3L))
  }

  test("hard negatives: labeled positives never surface; ranks renumber densely") {
    import spark.implicits._
    val qdf = q("alpha")
    val pos = Seq((0L, 0L)).toDF("query_id", "doc_id") // doc 0 is the labeled answer
    val out = Retrieval.hardNegatives(docs, "doc_id", "text", qdf, pos,
        k = 2, overfetch = 2)
      .collect().sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getLong(3)))
    assert(!out.map(_._1).contains(0L), "positive leaked into negatives")
    assert(out.map(_._2).toSeq == (1L to out.length).toSeq, "ranks must be dense from 1")
    // alpha docs are {0,1,3}; with 0 removed the negatives are from {1,3}
    assert(out.map(_._1).toSet.subsetOf(Set(1L, 3L)) && out.nonEmpty)
  }

  test("rrf fusion: consensus docs outrank single-system docs; c damps rank gaps") {
    import spark.implicits._
    // system A ranks docs 1,2,3; system B ranks 3,4,5 — doc 3 is the
    // only consensus doc and must win despite rank 3 in A and 1 in B
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 3L, 1L), (0L, 4L, 2L), (0L, 5L, 3L)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), k = 5)
      .collect().sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.head._1 == 3L)
    assert(math.abs(out.head._2 - (1.0 / 63 + 1.0 / 61)) < 1e-15)
    // singletons order by their 1/(60+rank): doc 1 (1/61), then docs
    // 2 and 4 tie at 1/62 and break deterministically by doc_id
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 2L, 4L, 5L))
  }

  test("chunking is map-side only: no exchange in the plan") {
    val plan = Retrieval.chunkTokens(docs, "doc_id", "text", 8, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunker must not shuffle:\n$plan")
  }

  test("mmrDiversify skips the near-duplicate of the first pick") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a is the top hit, a2 its near-clone (cos(a2, a) ≈ 1), b
    // orthogonal. Pure top-2 = (a, a2); MMR λ=0.5 picks (a, b):
    // a2's step-2 score = 0.45 − 0.5·cos(a2, a) ≈ −0.05, b's =
    // 0.35 − 0.5·0 = 0.35. (rel must differ from cos-to-first here:
    // when rel IS the cosine to the first pick's direction, every
    // step-2 score collapses to λrel − λrel = 0 and the test is
    // noise — the production pairing composes MMR with a retriever
    // whose rel is BM25 or a different query.)
    val cands = Seq(
      (10L, Seq(1.0f, 0.0f), 1.0),
      (11L, Seq(1.0f, 0.001f), 0.9),
      (12L, Seq(0.0f, 1.0f), 0.7)).toDF("vec_id", "embedding", "rel")
    val got = Retrieval.mmrDiversify(cands, "vec_id", "embedding", "rel",
        k = 2, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(1L -> 10L, 2L -> 12L))
  }

  test("mmrDiversify stops at pool exhaustion and ranks deterministically") {
    import spark.implicits._
    val cands = Seq(
      (1L, Seq(1.0f, 0.0f), 0.5),
      (2L, Seq(0.0f, 1.0f), 0.5)).toDF("vec_id", "embedding", "rel")
    val got = Retrieval.mmrDiversify(cands, "vec_id", "embedding", "rel",
        k = 5, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    // equal rel → vec_id tie-break picks 1 first; pool exhausts at 2
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 2L))
  }

  test("mmrDiversify never selects null-embedding/null-rel candidates") {
    import spark.implicits._
    val cands = Seq(
      (1L, Some(Seq(1.0f, 0.0f)), Some(0.9)),
      (2L, None: Option[Seq[Float]], Some(0.8)),
      (3L, Some(Seq(0.0f, 1.0f)), None: Option[Double]))
      .toDF("vec_id", "embedding", "rel")
    val got = Retrieval.mmrDiversify(cands, "vec_id", "embedding", "rel",
        k = 3, lambda = 0.5)
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L)) // unscorables dropped, pool exhausts at 1
  }

  test("mmrDiversify never selects zero-norm or NaN candidates") {
    import spark.implicits._
    // vec 2 is a zero vector: sim = dot/0 = NaN, score = NaN, and NaN
    // sorts FIRST under desc — without the nrm > 0 guard it wins every
    // argmax pass after the first (r9 ADVICE). vec 3 has a NaN rel.
    val cands = Seq(
      (1L, Seq(1.0f, 0.0f), 0.9),
      (2L, Seq(0.0f, 0.0f), 0.8),
      (3L, Seq(0.0f, 1.0f), Double.NaN),
      (4L, Seq(0.0f, 1.0f), 0.7))
      .toDF("vec_id", "embedding", "rel")
    val got = Retrieval.mmrDiversify(cands, "vec_id", "embedding", "rel",
        k = 4, lambda = 0.5)
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 4L))
  }

  test("bm25 partitioned serving: query with no indexed terms returns empty, no error") {
    import spark.implicits._
    // served from the persisted flat index: postings and stats as
    // parquet, read back, stats supplied
    val dir = java.nio.file.Files.createTempDirectory("bm25_spec_empty").toString
    Retrieval.bm25Index(docs, "doc_id", "text").write.parquet(s"$dir/idx")
    Retrieval.bm25IndexStats(spark.read.parquet(s"$dir/idx")).write.parquet(s"$dir/stats")
    // no tokens at all → an empty query vocabulary
    val qs = Seq((0L, "")).toDF("query_id", "query_text")
    assert(Retrieval.bm25TopKFromIndex(spark.read.parquet(s"$dir/idx"), qs, k = 3,
      precomputedStats = Some(spark.read.parquet(s"$dir/stats"))).count() == 0)
  }

  test("mmrDiversify rejects a corpus-sized candidate pool loudly") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // one candidate over the 100,000-row pool limit
    val pool = spark.range(100001).select(
      col("id").as("vec_id"),
      array(lit(1.0f), lit(0.0f)).as("embedding"),
      lit(0.5).as("rel"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.mmrDiversify(pool, "vec_id", "embedding", "rel",
        k = 2, lambda = 0.5)
    }
    assert(e.getMessage.contains("candidate pool exceeds 100000 rows"))
  }
}
