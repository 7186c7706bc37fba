package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source surface (reference §2.1): files (bounded + streamed
  * directories), rate generators, Kafka, in-memory collections.
  *
  * Offsets/recovery: the reference hand-rolls at-least-once replay with
  * ListState (MyAtleastOnceSourceDemo.java:52-112); Spark sources get
  * exactly-once via checkpointed offsets — set `checkpointLocation` on the
  * writer, nothing to build.
  */
object Sources {

  /** Streaming directory of CSV files with explicit schema (reference
    * filesystem+Csv table connector, cn/ngt/day10/_03_Source_File.java:30-39).
    */
  def csvStream(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false): DataFrame =
    spark.readStream.schema(schema).option("header", header.toString).csv(path)

  /** Batch CSV with schema. */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Batch JSON-lines read with explicit schema (schema inference costs
    * a full extra pass — never at 100 TB).
    */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Streaming JSON-lines directory. */
  def jsonStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** Batch ORC read — the second columnar lake format Spark ships
    * natively; same pushdown/pruning machinery as parquet (the scan is
    * a FileSourceScan with PushedFilters either way).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Streaming ORC directory (schema required, as for any file stream). */
  def orcStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).orc(path)

  /** Kafka source (reference KafkaSourceDemo.java:30-36). Group ids are
    * not used — offsets live in the query checkpoint.
    */
  def kafka(spark: SparkSession, bootstrap: String, subscribe: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      .load()

  /** CSV projection over a Kafka-wire frame (BINARY `value` + metadata
    * columns): the parsing half of [[kafkaCsv]], factored so it applies
    * to ANY frame with Kafka's schema — unit-tested on fixture byte
    * frames (KafkaWireSpec) since no broker exists in this sandbox.
    * Malformed payloads parse to all-null rows (PERMISSIVE), not errors.
    */
  def csvValues(kafkaFrame: DataFrame, schema: StructType): DataFrame =
    kafkaFrame
      .select(from_csv(col("value").cast("string"),
        schema, Map.empty[String, String]).as("row"))
      .select("row.*")

  /** JSON projection over a Kafka-wire frame — parsing half of
    * [[kafkaJson]], same testability contract as [[csvValues]].
    */
  def jsonValues(kafkaFrame: DataFrame, schema: StructType): DataFrame =
    kafkaFrame
      .select(from_json(col("value").cast("string"), schema).as("row"))
      .select("row.*")

  /** Kafka value payload parsed as CSV into `schema` (reference
    * Kafka+Csv descriptor, cn/ngt/day10/_04_Source_Kafka.java:28-44).
    */
  def kafkaCsv(spark: SparkSession, bootstrap: String, subscribe: String,
      schema: StructType): DataFrame =
    csvValues(kafka(spark, bootstrap, subscribe), schema)

  /** Kafka value payload parsed as JSON (reference withFormat(Json),
    * cn/ngt/day10/_04:40). */
  def kafkaJson(spark: SparkSession, bootstrap: String, subscribe: String,
      schema: StructType): DataFrame =
    jsonValues(kafka(spark, bootstrap, subscribe), schema)

  /** Rate-based synthetic sensor feed (reference SensorSource.scala:14-36:
    * N sensors, gaussian-walk temperature). Deterministic pseudo-randoms
    * derived from the rate stream's value — distributable, no driver state.
    */
  def sensorSource(spark: SparkSession, rowsPerSecond: Int = 100,
      sensors: Int = 10): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        concat(lit("sensor_"), (col("value") % sensors).cast("string")).as("id"),
        col("timestamp").as("ts"),
        (lit(65.0) + (pmod(xxhash64(col("value")), lit(1000)).cast("double") / 50.0 - 10.0))
          .as("temperature"))

  /** Random enum stream (reference SmokeLevelSource.scala:13-28). */
  def enumSource(spark: SparkSession, values: Seq[String],
      rowsPerSecond: Int = 10): DataFrame = {
    val n = values.size
    val branches = values.zipWithIndex.foldLeft(lit(values.head)) {
      case (acc, (v, i)) => when(pmod(xxhash64(col("value")), lit(n)) === i, lit(v)).otherwise(acc)
    }
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(col("timestamp").as("ts"), branches.as("level"))
  }
}
