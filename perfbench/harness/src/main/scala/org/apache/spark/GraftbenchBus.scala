package org.apache.spark

/** Lets the traced run wait until every posted listener event has been
  * delivered, so a pass's jobs, stages, tasks and progress reports are
  * all counted before the next pass starts. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
