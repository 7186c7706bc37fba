package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft reads a parquet path through `graft.io.FooterSchema.read`, which
  * reads the schema from one footer on the driver; `spark.read.parquet`
  * infers it with a Spark job instead. `FooterSchema.read` itself hands the
  * layouts only Spark's inference can read (partitioned directories among
  * them) to `spark.read.parquet`, so no caller needs to. This spec fails if
  * a line under `src/main` outside `FooterSchema.scala` calls
  * `read.parquet(`.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val home = "scala/graft/io/FooterSchema.scala"

  test("no source under src/main infers a parquet schema with a Spark job") {
    val hits = SourceLines.codeLines("src/main").filter(l =>
      l.path != home && l.text.contains("read.parquet("))
    assert(hits.isEmpty,
      "read parquet with graft.io.FooterSchema.read (it reads the schema from " +
        "one footer on the driver):\n" + hits.mkString("\n"))
  }
}
