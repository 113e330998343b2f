package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * the benchmark reads complete listener records. Lives under
  * `org.apache.spark` because the listener bus is `private[spark]`.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
