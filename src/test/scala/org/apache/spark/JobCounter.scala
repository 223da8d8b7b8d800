package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches — a plan-determined cost a
  * spec can pin where wall time would flake. Jobs are attributed by a
  * job tag on the calling thread (Spark SQL carries it to the
  * broadcast and subquery threads it spawns), so work from other
  * threads never counts. Lives in Spark's package because the
  * listener bus, drained before the count is read, is private to
  * Spark. */
object JobCounter {
  /** (result of `body`, number of jobs it launched). */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"job-counter-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
          .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
