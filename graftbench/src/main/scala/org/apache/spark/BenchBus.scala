package org.apache.spark

/** The listener bus drain the traced pass needs before it reads its
  * listener: Spark keeps `waitUntilEmpty` package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
