package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; the benchmark waits on
  * it so that a traced pass's job, stage and task events are all
  * counted before the pass's spans are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
