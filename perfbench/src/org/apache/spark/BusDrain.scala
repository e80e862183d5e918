package org.apache.spark

/** Spark delivers listener events asynchronously, so counters read right
  * after an action can miss the action's last tasks. `waitUntilEmpty` is
  * Spark-private; this shim lives in Spark's package to reach it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
