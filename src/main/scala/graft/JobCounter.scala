package graft

import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShim, SparkSession}

/** Counts the Spark jobs whose start properties satisfy `accept`.
  * Job-start events reach listeners through the asynchronous listener
  * bus, so [[drained]] empties the bus before it reads: no sleep-poll,
  * and a job submitted before the call is never missed. Registered on
  * construction; [[close]] removes the listener. */
final class JobCounter private (sc: SparkContext, accept: Properties => Boolean)
    extends SparkListener with AutoCloseable {
  private val n = new AtomicInteger
  sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    if (accept(Option(js.properties).getOrElse(new Properties))) n.incrementAndGet()

  /** Matching jobs started so far, after every posted event is delivered. */
  def drained(): Int = { GraftShim.drainListenerBus(sc); n.get() }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobCounter {
  def apply(spark: SparkSession, accept: Properties => Boolean = allJobs): JobCounter =
    new JobCounter(spark.sparkContext, accept)

  val allJobs: Properties => Boolean = _ => true

  def inGroup(group: String): Properties => Boolean =
    p => group == p.getProperty("spark.jobGroup.id")

  /** The durable-checkpoint writes [[Engine.cut]] tags. */
  val cutJobs: Properties => Boolean =
    p => Engine.CutJobDescription == p.getProperty("spark.job.description")

  /** Jobs `body` starts, counted by job group: concurrent activity on
    * the same session cannot flake the count. */
  def jobsInGroup(spark: SparkSession, group: String)(body: => Unit): Int = {
    val c = JobCounter(spark, inGroup(group))
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(group, "job-count probe")
      try body finally sc.clearJobGroup()
      c.drained()
    } finally c.close()
  }
}
