package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Listener events arrive
  * asynchronously, so the bus is drained before the listener goes on
  * and again before the count is read. Lives under `org.apache.spark`
  * for the bus's `waitUntilEmpty`. */
object JobCount {
  def of[A](sc: SparkContext)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
