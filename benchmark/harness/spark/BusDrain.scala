package org.apache.spark

/** The listener bus delivers events asynchronously. The benchmark reads
  * its listener's totals only after every event posted so far has been
  * delivered; the bus exposes that wait to the `org.apache.spark`
  * package alone, hence this one-method bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
