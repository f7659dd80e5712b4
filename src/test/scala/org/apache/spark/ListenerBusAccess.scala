package org.apache.spark

/** Test access to the driver's listener bus, which is package-private. */
object ListenerBusAccess {

  /** Blocks until every event posted so far (e.g. the SQL-execution end
    * events that drive `QueryExecutionListener` callbacks) has reached
    * the listeners.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
