package org.apache.spark

/** Re-exports two `private[spark]` members the traced run needs: the
  * listener bus's drain call, so a pass's events are all counted
  * before its counters are read, and the job-tags property key. */
object BenchBridge {
  /** Job property holding a job's tags (`SparkContext.SPARK_JOB_TAGS`). */
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
