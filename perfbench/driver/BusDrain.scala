package org.apache.spark

/** Waits for the live listener bus to empty (its drain hook is
  * package-private to Spark), so the ledger's listener has seen every
  * job and task of a traced run before it is summarized. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
