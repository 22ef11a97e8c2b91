package org.apache.spark

/** The `private[spark]` members the benchmark reads. */
object BenchAccess {
  /** Wait until the listener bus has delivered every event, so counters
    * read at the end of a phase include that phase's last tasks. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a shuffle-map stage, false for a result stage. */
  def isShuffleMapStage(si: scheduler.StageInfo): Boolean = si.shuffleDepId.isDefined
}
