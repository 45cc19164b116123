package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a spec reads the status tracker or captured plans only after every
  * posted event has been delivered.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
