package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark jobs, stages and shuffle bytes one block submits. */
case class SparkJobCount(jobs: Int, stages: Int, shuffleBytes: Long)

object SparkJobCount {
  /** Runs `f` under a listener. The bus is drained before the listener
    * goes on (earlier events are not counted) and before it comes off
    * (every event of `f` is). */
  def during[T](spark: SparkSession)(f: => T): (T, SparkJobCount) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val shuffle = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val result =
      try { val r = f; ListenerBusDrain(sc); r }
      finally sc.removeSparkListener(listener)
    (result, SparkJobCount(jobs.get, stages.get, shuffle.get))
  }
}
