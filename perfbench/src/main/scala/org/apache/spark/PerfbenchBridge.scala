package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * the listener bus has delivered every event posted so far, so an op's
  * jobs and tasks are counted before the next op starts. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
