package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Ids of the RDDs persisted while `body` ran that are still persisted
    * after it. A set difference, not a count: the ContextCleaner may
    * release other suites' RDDs meanwhile, which would hide a leak.
    */
  def pinnedBy(body: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  /** The number of Spark jobs `body` started on this thread (and on the
    * threads its queries hand their local properties to). A listener counts
    * jobs by a local property set around `body`; a marker job run after it
    * flushes the listener bus, which delivers events in order, so once the
    * marker's start arrives every job of `body` has been counted.
    */
  def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobsRunBy"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    def tagOf(j: SparkListenerJobStart) =
      Option(j.properties).flatMap(p => Option(p.getProperty(key)))
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (tagOf(j).contains(tag)) jobs.incrementAndGet()
        else if (tagOf(j).contains(s"$tag-marker")) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
