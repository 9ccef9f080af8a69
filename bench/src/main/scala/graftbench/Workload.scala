package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one op reports: input records it processed, whether its result
  * matched the generator's ground truth, and what it wrote. Ops checked
  * after the run instead (against DuckDB) return their result's
  * `signature`.
  */
final case class Outcome(
    records: Long,
    ok: Boolean,
    detail: String = "",
    outBytes: Long = 0L,
    outRecords: Long = 0L,
    ratios: Map[String, Double] = Map.empty,
    signature: Seq[Long] = Nil)

/** A benchmark workload: a fixed set of op kinds driven by closed-loop
  * clients. A round runs every kind once, shared out among the clients;
  * `shuffled` rounds run them in a seeded order, otherwise in `kinds`
  * order (a pipeline).
  */
trait Workload {
  def kinds: Seq[String]
  def clients: Int
  def shuffled: Boolean
  /** Rounds the loop runs even past the deadline. */
  def minRounds: Int = 1
  def setup(): Unit
  def run(kind: String, round: Int): Outcome
}

final case class OpRecord(
    id: Long, kind: String, client: Int, round: Int, startMs: Long, startNs: Long,
    durNs: Long, traced: Boolean, out: Outcome) {
  def toJson: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "client" -> client, "round" -> round,
    "start_ms" -> startMs, "start_ns" -> startNs, "dur_s" -> durNs / 1e9, "traced" -> traced,
    "ok" -> out.ok, "records" -> out.records, "detail" -> out.detail,
    "out_bytes" -> out.outBytes, "out_records" -> out.outRecords, "ratios" -> out.ratios,
    "signature" -> out.signature)
}

/** Runs ops with per-op Spark attribution, optional tracing, and failure
  * capture: an exception fails the op, it never aborts the run.
  */
final class Runner(spark: SparkSession, metrics: Option[SparkMetrics]) {
  private val ids = new AtomicLong(0)

  def runOne(w: Workload, kind: String, client: Int, round: Int, traced: Boolean): OpRecord = {
    val id = ids.incrementAndGet()
    if (traced) metrics.foreach(_.traced.add(id))
    spark.sparkContext.setLocalProperty(SparkMetrics.OpKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Trace.withTracing(traced)(Trace.op(id, s"op.$kind")(w.run(kind, round)))
      catch { case NonFatal(e) => Outcome(0L, ok = false, detail = e.toString.take(400)) }
    val t1 = System.nanoTime()
    spark.sparkContext.setLocalProperty(SparkMetrics.OpKey, null)
    OpRecord(id, kind, client, round, startMs, t0, t1 - t0, traced, out)
  }

  /** Every kind once, dealt round-robin over `threads` threads (1 for
    * a pipeline, whose kinds must run in order).
    */
  def pass(w: Workload, threads: Int, traced: Boolean): Seq[OpRecord] =
    parallel(threads) { c =>
      w.kinds.zipWithIndex.collect { case (k, i) if i % threads == c => runOne(w, k, c, 0, traced) }
    }

  /** Closed loop: each client takes the next op of the current round
    * when its previous op returns. Rounds start until `seconds` have
    * passed and at least `minRounds` have started, and the round in
    * progress at the deadline is finished, so every kind runs equally
    * often and per-kind medians exist for all of them. With
    * `alternate`, every other run of each kind is traced, half the
    * kinds starting traced, so warm-up drift does not favour one way.
    */
  def loop(w: Workload, seed: Long, seconds: Double, alternate: Boolean, minRounds: Int): Seq[OpRecord] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rng = new Random(seed)
    val runs = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var round = 0
    var pending = Iterator.empty[String]
    def next(): Option[(String, Int, Boolean)] = synchronized {
      if (!pending.hasNext && (round < minRounds || System.nanoTime() < deadline)) {
        round += 1
        pending = (if (w.shuffled) rng.shuffle(w.kinds) else w.kinds).iterator
      }
      if (!pending.hasNext) None
      else {
        val kind = pending.next()
        val traced = alternate && (runs(kind) + w.kinds.indexOf(kind)) % 2 == 1
        runs(kind) += 1
        Some((kind, round, traced))
      }
    }
    parallel(w.clients) { c =>
      Iterator.continually(next()).takeWhile(_.isDefined).flatten
        .map { case (kind, r, traced) => runOne(w, kind, c, r, traced) }.toVector
    }
  }

  private def parallel(n: Int)(body: Int => Seq[OpRecord]): Seq[OpRecord] = {
    val results = new Array[Seq[OpRecord]](n)
    val threads = (0 until n).map { c =>
      val t = new Thread(() => results(c) = body(c), s"bench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    results.toSeq.flatten.sortBy(_.startNs)
  }
}
