package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-visible probe into SparkContext's `private[spark]` listener bus
  * (same pattern as org.apache.spark.sql.graft.Bridge): lets suites wait
  * until all queued listener events have been delivered before reading
  * metrics accumulated by a test listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Run `body` and count the Spark jobs it starts. The bus is drained
    * before the listener is added, so earlier work's jobs do not count,
    * and again before it is removed, so none of the block's own is
    * missed. Returns the job count and the block's value. */
  def jobsIn[A](sc: SparkContext)(body: => A): (Int, A) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      drain(sc)
      (jobs.get, a)
    } finally sc.removeSparkListener(l)
  }
}
