package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The jobs a block of code launches, as their stages' call sites (the
  * stack of the code that launched each job). The listener bus is
  * asynchronous, so it is drained before and after the block: only this
  * package can reach it. */
object JobLog {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
