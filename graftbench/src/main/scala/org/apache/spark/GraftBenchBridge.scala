package org.apache.spark

/** The package-private Spark members the benchmark's tracer reads. */
object GraftBenchBridge {
  /** Wait until the listener bus has delivered every posted event, so a
    * pass's job, stage, task and query-execution events are all recorded
    * before the pass is summed. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage computes a job's result rather than shuffle output. */
  def isResultStage(info: scheduler.StageInfo): Boolean = info.shuffleDepId.isEmpty
}
