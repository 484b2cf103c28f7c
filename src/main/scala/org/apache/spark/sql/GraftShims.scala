package org.apache.spark.sql

/** Narrow bridge into `private[sql]` Spark internals the engine needs:
  * scoping conf to a cloned session and draining the listener bus.
  * (Re-rooting an analyzed plan onto another session is
  * [[GraftDatasetFactory.ofRows]] of `df.queryExecution.analyzed`.)
  *
  * Lives in `org.apache.spark.sql` purely for package-private access.
  */
object GraftShims {

  /** Clone `spark` (shared SparkContext/SharedState — so the cache
    * manager and catalog tables carry over; cloned SessionState — so
    * conf, temp views and functions are copied, then isolated) and
    * apply `entries` to the CLONE's conf only. This is how an operator
    * scopes a conf override (e.g. a narrower shuffle width for an
    * iterative fixpoint, or streaming-specific tuning) to its own
    * plans: queries planned concurrently on the original session are
    * untouched — no session-global set/restore window.
    */
  def cloneWithConf(spark: SparkSession, entries: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    entries.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Block until the shared listener bus has delivered every queued
    * event (bounded wait). Streaming progress/termination events ride
    * the async bus; a reader that aggregates them through a
    * StreamingQueryListener must drain the bus after `q.stop()` or it
    * races the last batches' deliveries.
    */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () } // timeout: proceed with what arrived
}
