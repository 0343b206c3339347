package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, and the shuffle records and
  * bytes its tasks write. Lives under `org.apache.spark` to drain the
  * listener bus (`private[spark]`) before and after, so no event is lost
  * to the bus's asynchrony.
  */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, c) = counted(spark)(body)
    (out, c.jobs.get)
  }

  /** The block's result and the shuffle records all its tasks wrote. */
  def shuffleRecords[T](spark: SparkSession)(body: => T): (T, Long) = {
    val (out, c) = counted(spark)(body)
    (out, c.shuffleRecords.get)
  }

  /** The block's result and the shuffle bytes all its tasks wrote. */
  def shuffleBytes[T](spark: SparkSession)(body: => T): (T, Long) = {
    val (out, c) = counted(spark)(body)
    (out, c.shuffleBytes.get)
  }

  /** The block's result and the name of each job's final stage, in the
    * order the jobs started (a parquet schema-inference job reads
    * `parquet at <file>:<line>`).
    */
  def jobNames[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val (out, c) = counted(spark)(body)
    (out, c.names.asScala.toSeq)
  }

  private final class Counts extends SparkListener {
    val jobs = new AtomicInteger
    val names = new ConcurrentLinkedQueue[String]
    val shuffleRecords = new AtomicLong
    val shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      e.stageInfos.maxByOption(_.stageId).foreach(st => names.add(st.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        shuffleRecords.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
        shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
  }

  private def counted[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val counts = new Counts
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(counts)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, counts)
    } finally sc.removeSparkListener(counts)
  }
}
