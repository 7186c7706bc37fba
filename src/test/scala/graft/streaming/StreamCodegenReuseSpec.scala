package graft.streaming

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins codegen reuse across streaming queries. Every `writeStream.start()`
  * runs in a clone of the session; with Spark's per-session artifact
  * isolation each clone tags its jobs with its own artifact state, the
  * executor gives each a new class loader, and Spark's generated-class
  * cache (keyed by class loader and source) misses on every class the
  * query's tasks use. tune() turns the isolation off (see
  * [[graft.GraftSession.tune]], "Artifact isolation"), so a second start of
  * the same query reuses the first one's classes: 0 compiles measured,
  * against 18 per query with isolation on.
  *
  * `CodegenMetrics.METRIC_COMPILATION_TIME` records one sample per Janino
  * compile, i.e. per cache miss.
  */
class StreamCodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Recompiles allowed on a repeated start. Measured 0 with isolation
    * off; 18 per query with it on.
    */
  private val repeatBound = 4L

  /** Files under `dir`, recursively, as paths relative to it. */
  private def files(dir: File): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString).toSet
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** The micro-batches one feed of the stream ran and the files it left
    * under the checkpoint directory: data files (offsets, commits, state
    * deltas), Spark's own checkpoint-file checksums (`<n>.delta.crc`) and
    * Hadoop's `.crc` sidecars (`.<name>.crc`, one per file of either kind).
    */
  private final case class Feed(batches: Int, data: Int, checksums: Int, sidecars: Int)

  /** One checkpointed windowed count over a fresh `MemoryStream`, fed
    * three times and stopped: the classes compiled from start to stop,
    * and per feed the micro-batches it ran (a data batch, then a no-data
    * one when the watermark closes windows) and the files it left. Each
    * file is written as a temporary one and renamed into place; it counts
    * once.
    */
  private def runQuery(checkpoint: File, name: String): (Long, Seq[Feed]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ms = MemoryStream[(Timestamp, String)]
    val agg = StreamOps.windowedAgg(ms.toDF().toDF("ts", "id"), "ts", "0 seconds",
      "5 seconds", None, Seq(col("id")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", checkpoint.toString).start()
    var seen = Set.empty[String]
    val perFeed = try (1 to 3).map { i =>
      ms.addData((new Timestamp(i * 7000L), "a"), (new Timestamp(i * 7000L + 1), "b"))
      q.processAllAvailable()
      val now = files(checkpoint)
      val added = (now -- seen).toSeq.map(p => p -> new File(p).getName)
      seen = now
      val (sidecars, rest) = added.partition { case (_, n) => n.startsWith(".") && n.endsWith(".crc") }
      val (checksums, data) = rest.partition(_._2.endsWith(".crc"))
      Feed(data.count(_._1.startsWith("commits/")), data.size, checksums.size, sidecars.size)
    } finally q.stop()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(spark.table(name).count() == 4, s"$name: the stream closed two windows per key")
    (compiles, perFeed)
  }

  test("successive starts of the same stateful stream reuse its compiled code") {
    val root = Files.createTempDirectory("graft_stream_codegen").toFile
    try {
      val runs = (1 to 3).map(i => runQuery(new File(root, s"q$i"), s"stream_codegen_$i"))
      runs.zipWithIndex.foreach { case ((compiles, feeds), i) =>
        val shown = feeds.map(f => s"${f.batches} batches: ${f.data} data + " +
          s"${f.checksums} Spark checksums + ${f.sidecars} Hadoop .crc")
        info(s"query ${i + 1}: compiled $compiles classes; files left under the " +
          s"checkpoint per feed: ${shown.mkString("; ")}")
      }
      runs.zipWithIndex.drop(1).foreach { case ((compiles, _), i) =>
        assert(compiles <= repeatBound,
          s"query ${i + 1} compiled $compiles classes (query 1: ${runs.head._1}): " +
            "a restarted stream no longer reuses the generated code of the one before")
      }
    } finally rm(root)
  }
}
