package graft.operators

import graft.SparkSpec

class CheckpointsSpec extends SparkSpec {

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
