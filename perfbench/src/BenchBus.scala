package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so an action's job,
  * stage, task and query-execution events are all counted before the
  * next action starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
