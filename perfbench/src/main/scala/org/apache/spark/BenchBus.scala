package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete job and task records. The bus is
  * package-private to Spark, hence this object's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
