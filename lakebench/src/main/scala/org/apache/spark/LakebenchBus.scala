package org.apache.spark

/** The listener bus delivers events asynchronously; a traced call reads its
  * counters only after every event it caused has been delivered. The bus's
  * drain is package-private to Spark, hence this one-line bridge.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
