package graft.io

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.StreamOps
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A tuned session's `file:` paths go through the graft filesystem, and a
  * checkpointed stateful stream plus a parquet write and read fork no
  * `chmod` or `readlink` (JFR `jdk.ProcessStart`, recorded in-process).
  */
class LocalFsForkSpec extends SparkSpec {
  import spark.implicits._

  /** Commands of the processes started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump); () }
  }

  private def program(command: String) = command.split(' ').head.split('/').last

  test("a tuned session resolves file: to the graft FileSystem and FileContext bindings") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass == classOf[ForklessLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[ForklessRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.getClass == classOf[ForklessLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass == classOf[ForklessRawLocalFs])
  }

  test("a checkpointed stateful stream and a parquet round trip fork no chmod or readlink") {
    val dir = Files.createTempDirectory("graft-forks")
    var windows = 0L
    val commands = processStarts {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Timestamp, String)]
      val agg = StreamOps.windowedAgg(ms.toDF().toDF("ts", "id"), "ts", "0 seconds",
        "5 seconds", None, Seq(col("id")), Seq(count(lit(1)).as("n")))
      val q = agg.writeStream.format("memory").queryName("localfs_forks")
        .outputMode("append").option("checkpointLocation", s"$dir/checkpoint").start()
      try (1 to 3).foreach { i =>
        ms.addData((new Timestamp(i * 7000L), "a"), (new Timestamp(i * 7000L + 1), "b"))
        q.processAllAvailable()
      } finally q.stop()
      windows = spark.table("localfs_forks").count()
      spark.range(100).toDF("id").write.parquet(s"$dir/t.parquet")
      assert(spark.read.parquet(s"$dir/t.parquet").as[Long].collect().sum == 4950L)
      // the recording sees process starts: this one must show up
      new ProcessBuilder("true").start().waitFor()
    }
    assert(windows == 4, "the stream closed two windows per key")
    assert(commands.map(program).contains("true"), commands)
    val forks = commands.filter(c => Set("chmod", "readlink")(program(c)))
    assert(forks.isEmpty,
      s"forks ${forks.groupBy(program).map { case (k, v) => k -> v.size }}, e.g. ${forks.take(2)}")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir.toFile)
  }
}
