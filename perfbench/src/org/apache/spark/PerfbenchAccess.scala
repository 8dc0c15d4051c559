package org.apache.spark

/** The two scheduler internals the benchmark needs between timed
  * operations, both outside any timed window: draining the listener bus
  * so every event of an operation is attributed before the next starts,
  * and releasing every registered shuffle so one pass's shuffle files
  * cannot serve or slow the next. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def releaseShuffles(sc: SparkContext): Int = {
    val tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val ids = tracker.shuffleStatuses.keys.toList
    for (id <- ids; cleaner <- sc.cleaner) cleaner.doCleanupShuffle(id, blocking = true)
    ids.size
  }
}
