package graft

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
}
