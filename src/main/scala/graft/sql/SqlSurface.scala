package graft.sql

import graft.Tables
import org.apache.spark.sql.SparkSession

/** Text-SQL surface (reference cn/ngt/day10/_09_SQL_Test.java:33,
  * _10_SQL_TestAgg.java:32, _11_SQL_KafkaToKafka.java:18-36): the
  * reference registers tables in a catalog and drives everything with SQL
  * strings; here the star schema registers as temp views and `spark.sql`
  * is the entry point. Streaming DDL (CREATE TABLE ... WITH kafka) maps
  * to a readStream-backed temp view + `spark.sql(...).writeStream`.
  */
object SqlSurface {

  /** Register every test table as a temp view named like the table. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Pure-DDL registration (reference day10/_11_SQL_KafkaToKafka.java:18-33
    * CREATE TABLE ... WITH (...)): every table becomes a temp view via SQL
    * text only — no DataFrame code. The events view applies the same
    * ts normalization as [[graft.Tables]], in SQL: the stored encoding is
    * probed with a LIMIT 0 query (ns-longs under nanosAsLong vs
    * timestamp[us] read as TIMESTAMP_NTZ) and the matching rewrite emitted.
    */
  def registerTablesDdl(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      if (n == "events") {
        val raw = spark.sql(s"SELECT ts FROM parquet.`$dir/events.parquet` LIMIT 0")
        val tsExpr = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => "timestamp_micros(ts div 1000)"
          case _ => "CAST(ts AS TIMESTAMP)"
        }
        spark.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW events AS
             |SELECT * EXCEPT (ts), $tsExpr AS ts
             |FROM parquet.`$dir/events.parquet`""".stripMargin)
      } else
        spark.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW $n
             |USING parquet OPTIONS (path '$dir/$n.parquet')""".stripMargin)
    }
}
