package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Counts the Spark jobs a block launches from the calling thread. */
object JobCount {

  /** Runs `body` under a fresh job group and returns its result with the
    * number of jobs launched in that group. The status tracker is fed by
    * the asynchronous listener bus, so the count is read after the bus
    * has delivered every event posted so far.
    */
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty(30000L)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
