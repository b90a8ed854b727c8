package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.mutable.ArrayBuffer

/** Records the Spark jobs a block starts on the calling thread. Lives in
  * Spark's package to drain the listener bus, so the count is exact rather
  * than racing the asynchronous event delivery. */
object JobProbe {

  /** The block's result and, per job it started, that job's stage count. */
  def stagesPerJob[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val jobs = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.synchronized(jobs += e.stageInfos.size)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job probe")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.synchronized(jobs.toList))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
