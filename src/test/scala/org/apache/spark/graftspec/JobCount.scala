package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Listener events arrive on an
  * asynchronous bus, which is package-private to Spark (hence this
  * file's package); the count is read after the bus has drained.
  */
object JobCount {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
