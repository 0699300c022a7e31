package org.apache.spark

/** The listener bus's drain is package-private to Spark; the bench needs
  * it so a run's last jobs and triggers are recorded before it reads
  * them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
