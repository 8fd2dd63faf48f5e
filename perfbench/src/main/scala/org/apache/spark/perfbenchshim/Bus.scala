package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the benchmark needs it
  * so that a call's last job events are counted before its figures are
  * read. Reads nothing else and changes nothing. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
