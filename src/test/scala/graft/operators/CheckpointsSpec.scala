package graft.operators

import graft.SparkSpec
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** A pinned 0..99 frame and the ids of the RDDs its pin persisted. */
  private def pinnedRange(): (DataFrame, Set[Int]) = {
    var df: DataFrame = null
    val ids = pinnedBy { df = Checkpoints.pin(spark.range(0, 100, 1, 4).toDF("x")) }
    assert(ids.nonEmpty, "pin persisted nothing")
    (df, ids)
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("advance frees old only after next is materialized, and next outlives old") {
    val (old, oldIds) = pinnedRange()
    // runs in the tasks that materialize `next` (one JVM in local mode):
    // counts the rows that saw `old` still persisted at that moment
    val oldPinnedAtPin = spark.sparkContext.longAccumulator("oldPinnedAtPin")
    val probe = udf { (x: Long) =>
      if (SparkContext.getOrCreate().getPersistentRDDs.keySet.exists(oldIds))
        oldPinnedAtPin.add(1)
      x * 2
    }
    var next: DataFrame = null
    val nextIds = pinnedBy { next = Checkpoints.advance(old)(old.select(probe($"x").as("x"))) }
    assert(oldPinnedAtPin.value == 100, "old was freed before next materialized")
    assert((persisted & oldIds).isEmpty, s"old is still pinned: ${persisted & oldIds}")
    assert(next.agg(sum($"x")).as[Long].head() == 9900L)
    assert(oldPinnedAtPin.value == 100, "reading next re-ran its plan")
    Checkpoints.free(next)
    assert((persisted & nextIds).isEmpty)
  }

  test("advance leaves old pinned and readable when next throws") {
    val (old, oldIds) = pinnedRange()
    val boom = new RuntimeException("build failed")
    assert(intercept[RuntimeException](Checkpoints.advance(old)(throw boom)) eq boom)
    // a next whose pin job fails, not its construction
    val failing = udf { (_: Long) => throw new IllegalStateException("task failed"); 0L }
    val thrown = intercept[Exception](
      Checkpoints.advance(old)(old.select(failing($"x").as("x"))))
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("task failed")), thrown)
    assert(oldIds.subsetOf(persisted), "old was freed")
    assert(old.agg(sum($"x")).as[Long].head() == 4950L)
    Checkpoints.free(old)
  }

  test("replaceStore rethrows a failed write and frees its pin") {
    val path = java.nio.file.Files.createTempDirectory("graft-store")
      .resolve("store").toString
    val boom = new RuntimeException("write failed")
    var pinnedAtWrite = Set.empty[Int]
    val leaked = pinnedBy {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val thrown = intercept[RuntimeException] {
        Checkpoints.replaceStore(spark.range(0, 100, 1, 4).toDF(), path) { _ =>
          pinnedAtWrite = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
          throw boom
        }
      }
      assert(thrown eq boom)
    }
    assert(pinnedAtWrite.nonEmpty, "the frame was not pinned before the write")
    assert(leaked.isEmpty, s"RDDs still pinned: $leaked")
    assert(Checkpoints.readStore(spark, path).isEmpty)
  }
}
