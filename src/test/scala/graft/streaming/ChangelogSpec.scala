package graft.streaming

import graft.SparkSpec
import graft.streaming.Changelog._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  test("retract pairs (reference _02 golden) through the DEFAULT persisted form") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("retract_golden")
      .toString + "/snap"
    val ms = MemoryStream[KV]
    val agg = ms.toDF().groupBy($"k").agg(sum($"v").as("total"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Boolean, String, Long)]()
    val q = retractStreamPersisted(agg, "k", "total", stateDir,
      (changes, id) => got.synchronized {
        got ++= changes.collect().map(r =>
          (id, r.getBoolean(0), r.getString(1), r.getLong(2)))
      }).start()
    try {
      // reference golden: sensor sums 45 then +45 -> retract 45, add 90
      ms.addData(KV("ws_001", 45)); q.processAllAvailable()
      ms.addData(KV("ws_001", 45)); q.processAllAvailable()
      // ARRIVAL order, not re-sorted: the old sortBy(batch, add) imposed
      // retract-before-add instead of observing it (sorting false < true
      // made the assert vacuous). The changes frame is a narrow
      // retracts-union-adds, so collect() preserves the contract order —
      // if a future change reorders the union, this now fails.
      val seq = got.toList.map(t => (t._2, t._3, t._4))
      assert(seq == List(
        (true, "ws_001", 45L),
        (false, "ws_001", 45L), (true, "ws_001", 90L)))
    } finally q.stop()
  }

  test("emission tagging: first then update on re-fired key") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("tag_state")
      .toString + "/snap"
    val ms = MemoryStream[KV]
    val agg = ms.toDF().groupBy($"k").agg(count(lit(1)).as("n"))
    val got = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = tagEmissionsPersisted(agg, Seq("k"), "n", stateDir,
      (tagged, _) => got.synchronized {
        got ++= tagged.collect().map(r => (r.getString(0), r.getString(2)))
      }).start()
    try {
      ms.addData(KV("a", 1), KV("b", 1)); q.processAllAvailable()
      ms.addData(KV("a", 2)); q.processAllAvailable()
      val byKey = got.toList.groupBy(_._1)
      assert(byKey("a").map(_._2) == List("first", "update"))
      assert(byKey("b").map(_._2) == List("first"))
    } finally q.stop()
  }

  test("persisted emission tagging survives a REAL restart from checkpoint (no first-tag amnesia)") {
    // genuine restart: a checkpointed file-source query, stopped and
    // re-started as a fresh instance — batch ids continue from the
    // checkpoint, the snapshot versioning's design contract
    val root = java.nio.file.Files.createTempDirectory("tag_restart").toString
    val (srcDir, ckDir, stateDir) = (s"$root/src", s"$root/ck", s"$root/snap")
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long, String)]()
    def runOnce(feed: Seq[KV]): Unit = {
      feed.toDF("k", "v").write.mode("append").parquet(srcDir)
      val src = spark.readStream.schema("k STRING, v BIGINT").parquet(srcDir)
      val agg = src.groupBy($"k").agg(sum($"v").as("total"))
      val q = tagEmissionsPersisted(agg, Seq("k"), "total", stateDir,
        (tagged, id) => got.synchronized {
          got ++= tagged.collect().map(r =>
            (id, r.getString(0), r.getLong(1), r.getString(2)))
        }).option("checkpointLocation", ckDir).start()
      try q.processAllAvailable() finally q.stop()
    }
    // instance 1, batch 0: both keys first
    runOnce(Seq(KV("a", 1), KV("b", 5)))
    assert(got.map(t => (t._2, t._4)).sorted.toList ==
      List(("a", "first"), ("b", "first")))
    got.clear()
    // instance 2, SAME checkpoint + state dir, fresh closure — the
    // driver-map form re-tags "first" here (restart amnesia); the
    // persisted snapshot must keep tagging a "update", and the
    // checkpointed agg keeps summing (a: 1+7=8)
    runOnce(Seq(KV("a", 7), KV("c", 9)))
    assert(got.map(t => (t._2, t._4)).sorted.toList ==
      List(("a", "update"), ("c", "first")),
      s"restart amnesia or lost snapshot: $got")
    assert(got.find(_._2 == "a").exists(_._3 == 8L),
      s"checkpointed aggregate lost its state: $got")
  }

  test("persisted retract stream diffs against a parquet snapshot") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("retract_state")
      .toString + "/snap"
    val ms = MemoryStream[KV]
    val agg = ms.toDF().groupBy($"k").agg(sum($"v").as("total"))
    val got = scala.collection.mutable.ArrayBuffer[(Boolean, String, Long)]()
    val q = retractStreamPersisted(agg, "k", "total", stateDir,
      (changes, _) => got.synchronized {
        got ++= changes.collect().map(r =>
          (r.getBoolean(0), r.getString(1), r.getLong(2)))
      }).start()
    try {
      ms.addData(KV("ws_001", 45)); q.processAllAvailable()
      ms.addData(KV("ws_001", 45), KV("ws_002", 7)); q.processAllAvailable()
      val seq = got.toList.sortBy(t => (t._3, t._1))
      assert(seq.contains((true, "ws_001", 45L)))
      assert(seq.contains((false, "ws_001", 45L)))
      assert(seq.contains((true, "ws_001", 90L)))
      assert(seq.contains((true, "ws_002", 7L)))
      assert(seq.size == 4)
      // snapshot for the latest batch exists on disk (restart-safe store)
      val versions = new java.io.File(stateDir).listFiles()
        .map(_.getName).filter(_.matches("v\\d+"))
      assert(versions.nonEmpty)
    } finally q.stop()
  }

  test("iterateBatch: decrement-until-zero loop (IterateDemo golden)") {
    // reference semantics: values decrement each pass; values that reach
    // <= 0 leave the loop
    val out = iterateBatch[Long](
      Seq(3L, 1L, 2L).toDS(),
      ds => ds.map(_ - 1),
      ds => (ds.filter(_ > 0), ds.filter(_ <= 0)),
      maxIter = 10)
    assert(out.collect().sorted.toSeq == Seq(0L, 0L, 0L))
  }
}
