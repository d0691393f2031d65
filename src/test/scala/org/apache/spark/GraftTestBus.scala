package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a job-counting spec reads its listener only after every event the
  * finished call posted has been delivered.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The short call site of each Spark job `body` launches (its final
    * stage's name), read once the listener bus has drained.
    */
  def jobsOf(sc: SparkContext)(body: => Any): Seq[String] = {
    drain(sc)
    val sites = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        sites.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
        ()
      }
    }
    sc.addSparkListener(l)
    try { body; drain(sc); sites.asScala.toSeq }
    finally sc.removeSparkListener(l)
  }
}
