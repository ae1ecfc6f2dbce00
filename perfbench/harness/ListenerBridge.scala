package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every job, stage, task and
  * streaming-progress event posted so far has reached the harness's
  * listeners before their records are read. Lives in Spark's package
  * because `listenerBus` is package-private. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
