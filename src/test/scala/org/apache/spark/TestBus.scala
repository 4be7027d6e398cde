package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The listener bus is package-private: tests that count listener events
  * wait here until every posted event has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs `run` starts, one entry per job holding its SQL
    * execution id (None outside SQL). One action (a checkpoint, a
    * collect) is one execution id; under AQE each of its shuffle stages
    * is a job of its own.
    */
  def jobsDuring(sc: SparkContext)(run: => Any): Seq[Option[String]] = {
    val jobs = new ConcurrentLinkedQueue[Option[String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(l)
    try {
      drain(sc)
      jobs.clear()
      run
      drain(sc)
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(l)
  }
}
