package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spec helper: the Spark jobs a block starts, each with its local
  * properties (job group, call site) and its stages (task counts, call
  * stack). Lives under `org.apache.spark` to drain the listener bus, so
  * the record is complete when the block returns. */
object JobLog {
  def of[T](sc: SparkContext)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = seen.add(job)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The call stack a job was started from (its stages' long call site). */
  def stack(job: SparkListenerJobStart): String = job.stageInfos.map(_.details).mkString("\n")

  /** Tasks across a job's stages. */
  def tasks(job: SparkListenerJobStart): Int = job.stageInfos.map(_.numTasks).sum
}
