package graft.queries

import java.nio.file.{Files, Path}

import graft.{SparkEntry, SparkSpec}
import org.apache.commons.io.FileUtils

/** The Spark jobs the DSIR family and q147 run before they return a
  * plan. The DSIR table is one aggregate collected to the driver and
  * held there, so its build runs the respread and the aggregate (3 jobs
  * on the single-file fixture: the two shuffle stages and the result),
  * pins no RDD, and q136/q139 construct without a job. q147 collects its
  * (bucket, class) counts once and finishes the grid on the driver.
  */
class ConstructionJobsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("SharedDsir builds on a fresh session in at most 3 jobs and pins no RDD") {
    val s = spark.newSession()
    var jobs = -1
    val pinned = pinnedBy { jobs = jobsRunBy(SharedDsir.table(s, dir)) }
    info(s"SharedDsir.table ran $jobs Spark jobs")
    assert(jobs > 0 && jobs <= 3, s"SharedDsir.table ran $jobs jobs")
    assert(pinned.isEmpty, s"the build left RDDs persisted: $pinned")
  }

  test("q136 and q139 construct with no Spark job once the table is built") {
    val s = spark.newSession()
    SharedDsir.table(s, dir)
    Seq("q136_dsir", "q139_dsir_select").foreach { q =>
      assert(jobsRunBy(SparkEntry.queries(q)(s, dir)) == 0, q)
    }
  }

  test("q147 construction collects its count grid once: at most 2 jobs") {
    val jobs = jobsRunBy(SparkEntry.queries("q147_softmax_score")(spark, dir))
    info(s"q147_softmax_score construction ran $jobs Spark jobs")
    assert(jobs <= 2, s"q147 construction ran $jobs jobs")
  }

  test("a DSIR build whose job fails caches nothing, and the retry builds") {
    val s = spark.newSession()
    val tmp = Files.createTempDirectory("dsir_retry")
    try {
      val docs = tmp.resolve("documents.parquet")
      spark.read.parquet(s"$dir/documents.parquet").coalesce(1)
        .write.parquet(docs.toString)
      graft.Tables.documents(s, tmp.toString) // resolved while the file is there
      val part: Path = Files.list(docs).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get
      val aside = tmp.resolve("aside.parquet")
      Files.move(part, aside)
      intercept[Exception](SharedDsir.table(s, tmp.toString))
      Files.move(aside, part)
      val table = SharedDsir.table(s, tmp.toString)
      assert(table.nRaw.sum > 0)
      assert(SharedDsir.table(s, tmp.toString) eq table)
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }
}
