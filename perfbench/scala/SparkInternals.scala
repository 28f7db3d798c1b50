package org.apache.spark

/** The two `private[spark]` hooks the benchmark recorder needs: draining
  * the listener bus when recorders are attached or detached, so every event
  * of a traced run is delivered to them and none of an untraced run is,
  * and the RDD blocks the block managers still hold. */
object PerfbenchInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes (memory + disk) of RDD blocks still resident on all block managers. */
  def residentRddBytes(): Long =
    SparkEnv.get.blockManager.master.getStorageStatus
      .map(_.rddBlocks.values.map(b => b.memSize + b.diskSize).sum).sum
}
