package org.apache.spark.perfbench

import org.apache.spark.{MapOutputTrackerMaster, SparkContext}

/** Spark-private hooks the benchmark needs; they live in Spark's package
  * because the listener bus and the shuffle registry are Spark-private.
  */
object Drain {

  /** Blocks until every queued listener event has been delivered, so the
    * layer listener has seen all jobs and tasks of the spans it reports.
    */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes every registered shuffle and waits until its files are gone:
    * what Spark's cleaner does after a GC, done at a fixed point between
    * timed spans instead of at a random one inside them.
    */
  def removeShuffles(sc: SparkContext): Unit = {
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val ids = tracker.shuffleStatuses.keys.toSeq
    sc.cleaner.foreach(c => ids.foreach(id => c.doCleanupShuffle(id, blocking = true)))
  }
}
