package graft

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import graft.io.FooterSchema
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables` resolves each table from one parquet footer read on the driver
  * (`FooterSchema`), where `spark.read.parquet` ran a schema-inference
  * Spark job per table. The schema must be the one Spark's inference gives,
  * under every setting that changes it, and the errors must stay Spark's.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("sf0.001", "sf0.01").map(sf => s"/root/testdata/$sf")
    .filter(d => new java.io.File(d).exists())

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** A fresh sibling session (its own `Tables` memo) under each setting of
    * the two confs that change how a footer converts.
    */
  private def settings: Seq[(String, SparkSession)] =
    for (nanos <- Seq(true, false); ntz <- Seq(true, false)) yield {
      val s = spark.newSession()
      s.conf.set(NanosAsLong, nanos.toString)
      s.conf.set(InferNtz, ntz.toString)
      (s"nanosAsLong=$nanos inferTimestampNTZ=$ntz", s)
    }

  /** A schema, or the error class and message of the failure to get one. */
  private def outcome(schema: => StructType): Either[String, StructType] =
    Try(schema) match {
      case Success(st) => Right(st)
      case Failure(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
    }

  private def condition(e: Throwable): String = e match {
    case t: SparkThrowable => t.getCondition
    case _ => fail(s"not a Spark error: $e")
  }

  test("every table's schema is Spark's inferred schema, nullability included") {
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    val checked = for {
      dir <- sfDirs
      (setting, s) <- settings
      name <- Tables.names
    } yield {
      val path = s"$dir/$name.parquet"
      val want = outcome(Tables.normalizeTs(s.read.parquet(path)).schema)
      val got = outcome(Tables(s, dir, name).schema)
      assert(got == want, s"$path under $setting")
      (dir, setting, name)
    }
    info(s"${checked.size} (dir, setting, table) combinations match")
  }

  test("a footer without Spark's row metadata converts under the session conf") {
    val f = s"${Files.createTempDirectory("footer_plain")}/plain.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 ns (TIMESTAMP(NANOS,true));
        |  optional int64 us (TIMESTAMP(MICROS,false));
        |  required binary s (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(f)).withType(schema)
      .withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ns", 1709242120256000123L).append("us", 1709242120256000L)
      .append("s", "x"))
    finally w.close()
    val seen = settings.map { case (setting, s) =>
      val want = outcome(s.read.parquet(f).schema)
      assert(outcome(FooterSchema.read(s, f).schema) == want, setting)
      want
    }
    // three different answers (nanosAsLong=false fails either way), so
    // each conf is exercised
    assert(seen.distinct.size == 3, seen)
    assert(seen.head == Right(StructType(Seq(StructField("ns", LongType),
      StructField("us", TimestampNTZType), StructField("s", StringType)))))
  }

  test("a Spark-written directory reads Spark's row-metadata schema") {
    val dir = s"${Files.createTempDirectory("footer_spark")}/store"
    spark.range(0, 30, 1, 3)
      .select(col("id"), (col("id") % 7).cast("decimal(12,2)").as("d"),
        struct(col("id").as("a"), array(lit("x")).as("b")).as("st"),
        map(lit("k"), col("id")).as("m"), timestamp_micros(col("id")).as("t"))
      .write.parquet(dir)
    val want = spark.read.parquet(dir).schema
    assert(FooterSchema.of(spark, dir).map(_.fieldNames.toSeq) == Some(want.fieldNames.toSeq))
    assert(FooterSchema.read(spark, dir).schema == want)
    assert(FooterSchema.read(spark, dir).count() == 30)
  }

  test("resolving the ten tables runs no Spark job") {
    val dir = sfDirs.head
    val s = spark.newSession()
    val footer = jobsRunBy(Tables.names.foreach(Tables(s, dir, _)))
    val inferred = jobsRunBy(Tables.names.foreach(n => s.read.parquet(s"$dir/$n.parquet")))
    info(s"jobs to resolve ${Tables.names.size} tables: $footer " +
      s"(spark.read.parquet: $inferred)")
    assert(footer == 0)
  }

  test("a missing path and an empty directory raise Spark's errors") {
    val base = Files.createTempDirectory("tables_err").toString
    val missing = intercept[Exception](Tables(spark, base, "nation"))
    assert(condition(missing) == "PATH_NOT_FOUND", missing)
    Files.createDirectory(Paths.get(base, "region.parquet"))
    val empty = intercept[Exception](Tables(spark, base, "region"))
    assert(condition(empty) == "UNABLE_TO_INFER_SCHEMA", empty)
    val store = intercept[Exception](
      graft.operators.Checkpoints.readStore(spark, s"$base/region.parquet"))
    assert(condition(store) == "UNABLE_TO_INFER_SCHEMA", store)
  }

  test("a failed resolution caches nothing: a retry after the file appears succeeds") {
    val src = sfDirs.head
    val base = Files.createTempDirectory("tables_retry").toString
    Files.createDirectory(Paths.get(base, "region.parquet"))
    intercept[Exception](Tables(spark, base, "nation"))
    intercept[Exception](Tables(spark, base, "region"))
    Files.copy(Paths.get(src, "nation.parquet"), Paths.get(base, "nation.parquet"))
    Files.copy(Paths.get(src, "region.parquet"),
      Paths.get(base, "region.parquet", "part-00000.parquet"))
    Seq("nation", "region").foreach { n =>
      val want = Tables(spark, src, n)
      val got = Tables(spark, base, n)
      assert(got.schema == want.schema, n)
      assert(got.count() == want.count(), n)
    }
  }

  test("partitioned, file-sink, summary and glob paths are left to Spark's inference") {
    val base = Files.createTempDirectory("footer_delegate").toString
    val rows = spark.range(0, 8).select(col("id"), (col("id") % 2).as("p"))
    rows.write.partitionBy("p").parquet(s"$base/parted")
    rows.write.parquet(s"$base/sink")
    Files.createDirectory(Paths.get(base, "sink", "_spark_metadata"))
    rows.write.parquet(s"$base/summary")
    Files.copy(Paths.get(s"$base/sink", new java.io.File(s"$base/sink").list()
      .filter(_.endsWith(".parquet")).head), Paths.get(base, "summary", "_metadata"))
    Seq("parted", "sink", "summary", "par*").map(d => s"$base/$d").foreach { p =>
      assert(FooterSchema.of(spark, p).isEmpty, p)
    }
    // the partition column comes from the directory names
    assert(FooterSchema.read(spark, s"$base/parted").schema ==
      spark.read.parquet(s"$base/parted").schema)
    assert(FooterSchema.read(spark, s"$base/parted").columns.toSeq == Seq("id", "p"))
  }
}
