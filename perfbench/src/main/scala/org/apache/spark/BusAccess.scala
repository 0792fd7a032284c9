package org.apache.spark

/** The one private Spark hook the benchmark needs: wait until the
  * listener bus has delivered every queued event, so an operation's
  * jobs, stages and tasks are all recorded before they are attributed.
  * Called only between operations, never inside a timed window.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
