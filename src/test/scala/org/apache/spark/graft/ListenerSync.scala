package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test seam: block until every listener event posted so far has been
  * delivered (`LiveListenerBus.waitUntilEmpty` is `private[spark]`),
  * so a spec can assert on what a `SparkListener` saw of the jobs an
  * action just ran.
  */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
