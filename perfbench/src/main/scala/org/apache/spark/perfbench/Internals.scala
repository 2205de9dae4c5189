package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}

/** The two scheduler hooks the benchmark needs that Spark keeps
  * `private[spark]`: draining the listener bus, and knowing when the
  * context cleaner has gone quiet after a GC. */
object Internals {

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Counts cleanup actions, so a caller can wait for the cleaner to go
    * quiet instead of sleeping for a fixed time. */
  final class CleanCounter extends CleanerListener {
    val cleaned = new AtomicLong
    private def hit(): Unit = { cleaned.incrementAndGet(); () }
    def rddCleaned(rddId: Int): Unit = hit()
    def shuffleCleaned(shuffleId: Int): Unit = hit()
    def broadcastCleaned(broadcastId: Long): Unit = hit()
    def accumCleaned(accId: Long): Unit = hit()
    def checkpointCleaned(rddId: Long): Unit = hit()
  }

  def attachCleanCounter(sc: SparkContext): CleanCounter = {
    val c = new CleanCounter
    sc.cleaner.foreach(_.attachListener(c))
    c
  }

  /** Runs a full GC, then waits until the cleaner has handled every
    * reference the GC released: no cleanup for `quietMs`, bounded by
    * `maxMs`. Finishes by draining the listener bus so block-removal
    * events are counted. */
  def collectAndDrain(sc: SparkContext, counter: CleanCounter,
                      quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    System.gc()
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = counter.cleaned.get
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < quietMs * 1000000L &&
           System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = counter.cleaned.get
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    drainListenerBus(sc)
  }
}
