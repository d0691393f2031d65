package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a job-counting spec reads its listener only after every event the
  * finished call posted has been delivered.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
