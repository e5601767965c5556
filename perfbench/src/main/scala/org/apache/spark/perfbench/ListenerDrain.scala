package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark has delivered every listener event posted so far, so
  * a traced phase reads complete job and task records. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
