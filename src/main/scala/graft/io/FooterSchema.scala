package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): one task that reads one
  * footer, and the job's scheduling costs far more than the read. Without
  * `mergeSchema`, Spark's inference reads the footer of the path-sorted
  * first data file, so this reads that same footer here and hands the
  * schema to `spark.read.schema(...)`, which runs no job. The footer is
  * turned into a schema by Spark's own `readSchemaFromFooter`: the
  * row-metadata schema Spark wrote (`org.apache.spark.sql.parquet.row.metadata`)
  * when the footer has one, else `ParquetToSparkSchemaConverter` under the
  * session conf, so `nanosAsLong` and TIMESTAMP_NTZ inference follow the
  * session as they do in Spark's inference.
  *
  * Where there is no single flat footer to read, [[read]] is
  * `spark.read.parquet` and its errors are Spark's: a missing path
  * (`PATH_NOT_FOUND`), a directory with no data file
  * (`UNABLE_TO_INFER_SCHEMA`), a file-sink output (`_spark_metadata`), a
  * directory with summary files or subdirectories (partition columns come
  * from directory names), and a glob.
  */
object FooterSchema {

  /** The parquet at `path`, its schema read from one footer on the driver. */
  def read(spark: SparkSession, path: String): DataFrame =
    of(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema Spark's inference would give `path`, read on the driver;
    * `None` where only Spark's inference can tell (see the object doc).
    */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(conf, path).map { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
        HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** The data file whose footer Spark's inference reads: `path` itself,
    * or the path-sorted first visible file of a flat directory.
    */
  private def firstDataFile(conf: Configuration, path: String): Option[FileStatus] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val status =
        try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
      status.flatMap { st =>
        if (st.isFile) Some(st)
        else {
          val children = fs.listStatus(p)
          val names = children.map(_.getPath.getName)
          val visible = children.filterNot(c => hidden(c.getPath.getName))
          if (names.exists(SparkOwned) || visible.exists(_.isDirectory)) None
          else visible.sortBy(_.getPath.toString).headOption
        }
      }
    }

  /** Entries that make Spark read a directory some other way: the file
    * sink's metadata log and parquet summary files.
    */
  private val SparkOwned = Set("_spark_metadata", "_metadata", "_common_metadata")

  /** The names Spark's file listing skips (`InMemoryFileIndex`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
