package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Bridge to the private[spark] listener bus, so job counts can drain
 *  pending events deterministically instead of sleeping. */
object GraftListenerAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)

  /** Runs `body` and returns its result with the number of Spark jobs it
   *  started (the listener bus is drained before and after). */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Int) = {
    waitUntilEmpty(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      waitUntilEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
