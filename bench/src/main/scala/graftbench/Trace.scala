package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's own calls into each engine
  * module. Tracing is switched per thread, so traced and untraced ops
  * can interleave on one client; an untraced op pays one ThreadLocal
  * read per span site.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // innermost open span first: (span id, op id)
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def withTracing[T](traced: Boolean)(body: => T): T = {
    val prev = on.get
    on.set(traced)
    try body finally on.set(prev)
  }

  /** Root span of one op: every span opened inside carries `opId`. */
  def op[T](opId: Long, name: String)(body: => T): T = record(name, opId)(body)

  def span[T](name: String)(body: => T): T =
    record(name, open.get.headOption.map(_._2).getOrElse(0L))(body)

  private def record[T](name: String, opId: Long)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val outer = open.get
      open.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(outer)
        done.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), opId, name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
}

/** Per-op Spark work, collected by a listener that attributes each job
  * to the op whose thread submitted it (via the [[SparkMetrics.OpKey]]
  * local property). Only ops listed in `traced` are recorded.
  */
final class SparkMetrics extends SparkListener {
  final class Op {
    var jobs = 0; var stages = 0; var tasks = 0; var retries = 0
    var firstJobMs = Long.MaxValue
    var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val schedWaitMs = new scala.collection.mutable.ArrayBuffer[Long]
  }

  val traced: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  private val byOp = new ConcurrentHashMap[Long, Op]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // job id -> submit time; removed at the job's first task launch
  private val jobSubmitMs = new ConcurrentHashMap[Int, (Long, Long)]()

  private def opOf(stageId: Int): Option[Op] =
    Option(stageOp.get(stageId)).map(op => byOp.computeIfAbsent(op, _ => new Op))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val opId = Option(e.properties).flatMap(p => Option(p.getProperty(SparkMetrics.OpKey)))
      .map(_.toLong).filter(traced.contains)
    opId.foreach { id =>
      val m = byOp.computeIfAbsent(id, _ => new Op)
      m.synchronized {
        m.jobs += 1
        m.firstJobMs = math.min(m.firstJobMs, e.time)
      }
      jobSubmitMs.put(e.jobId, (id, e.time))
      e.stageIds.foreach { s => stageOp.put(s, id); stageJob.put(s, e.jobId) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    opOf(e.stageInfo.stageId).foreach { m =>
      m.synchronized {
        m.stages += 1
        if (e.stageInfo.attemptNumber() > 0) m.retries += 1
      }
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobSubmitMs.remove(j))).foreach {
      case (id, submitMs) =>
        val m = byOp.get(id)
        m.synchronized(m.schedWaitMs += e.taskInfo.launchTime - submitMs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    opOf(e.stageId).foreach { m =>
      m.synchronized {
        m.tasks += 1
        if (e.reason != Success || e.taskInfo.attemptNumber > 0) m.retries += 1
        val tm = e.taskMetrics
        if (tm != null) {
          m.taskRunMs += tm.executorRunTime
          m.taskCpuNs += tm.executorCpuTime
          m.gcMs += tm.jvmGCTime
          m.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          m.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          m.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }

  def snapshot: Map[Long, Map[String, Any]] =
    byOp.asScala.map { case (id, m) =>
      id -> m.synchronized(Map[String, Any](
        "jobs" -> m.jobs, "stages" -> m.stages, "tasks" -> m.tasks, "retries" -> m.retries,
        "first_job_ms" -> (if (m.firstJobMs == Long.MaxValue) null else m.firstJobMs),
        "task_run_ms" -> m.taskRunMs, "task_cpu_ns" -> m.taskCpuNs, "gc_ms" -> m.gcMs,
        "shuffle_write_bytes" -> m.shuffleWrite, "shuffle_read_bytes" -> m.shuffleRead,
        "spill_bytes" -> m.spill, "sched_wait_ms" -> m.schedWaitMs.toSeq))
    }.toMap
}

object SparkMetrics {
  val OpKey = "graftbench.op"
}
