package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, for the load-once checks of
  * the saved-index ops.
  */
private[ops] object JobCount {

  /** The number of jobs `body` starts on this thread, and its result. */
  def apply[T](spark: SparkSession)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerBusDrain(sc)
      (jobs.get(), out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
