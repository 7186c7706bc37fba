package graft.io

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Sink surface (reference §2.2): console, files (rolling), Kafka,
  * key-value upserts (the reference's Redis/JDBC/ES-upsert sinks share one
  * shape: key → upsert). External clients are pluggable so the same writer
  * drives Redis/JDBC/ES/HBase; tests plug an in-memory store.
  */
object Sinks {

  /** Console sink (reference PrintSinkDemo.java:21). */
  def console(df: DataFrame, mode: String = "append"): DataStreamWriter[Row] =
    df.writeStream.format("console").outputMode(mode)

  /** Rolling file sink (reference StreamingFileSinkDemo.java:28-40:
    * 30s roll / 100MB max). Spark's equivalents: trigger interval = roll
    * cadence, maxRecordsPerFile = size bound, checkpoint = exactly-once.
    */
  def rollingFiles(df: DataFrame, format: String, path: String,
      checkpoint: String, rollInterval: String = "30 seconds",
      maxRecordsPerFile: Long = 1000000L): DataStreamWriter[Row] =
    df.writeStream.format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .trigger(Trigger.ProcessingTime(rollInterval))

  /** Kafka sink (reference KafkaSinkDemo.java:22-25): expects key/value
    * columns. */
  def kafka(df: DataFrame, bootstrap: String, topic: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)

  /** Serialization half of the Kafka producer, factored like
    * Sources.csvValues/jsonValues: project a frame into the (key, value)
    * wire columns [[kafka]] expects — `keyCol` as the record key, every
    * other column JSON-encoded into `value`. Spec-tested round-trip
    * against Sources.jsonValues (no broker in this sandbox).
    */
  def kafkaJsonRecords(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.filter(_ != keyCol).map(col): _*)).as("value"))

  /** CSV twin of [[kafkaJsonRecords]]: non-key columns joined with commas
    * in declaration order (the reference's Kafka+Csv descriptor shape).
    */
  def kafkaCsvRecords(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      concat_ws(",",
        df.columns.filter(_ != keyCol).map(c => col(c).cast("string")): _*)
        .as("value"))

  /** A pluggable upsert client — the common contract behind the
    * reference's Redis HSET (RedisSinkDemo.java:52+), JDBC
    * `INSERT ... ON DUPLICATE KEY UPDATE` (JDBCSinkDemo.java:47) and ES
    * upsert-mode (cn/ngt/day10/_08_Sink_ES_Upsert.java:49-63) sinks.
    */
  trait UpsertClient extends Serializable {
    def open(): Unit
    def upsert(key: String, value: String): Unit
    def close(): Unit
  }

  /** Per-partition upsert writer (foreachPartition batching semantics —
    * one client per partition, the reference's RichSinkFunction
    * open/invoke/close lifecycle).
    */
  def upsertWriter(keyCol: String, valueCol: String,
      clientFactory: () => UpsertClient): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var client: UpsertClient = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        client = clientFactory(); client.open(); true
      }
      override def process(row: Row): Unit =
        client.upsert(String.valueOf(row.getAs[Any](keyCol)),
          String.valueOf(row.getAs[Any](valueCol)))
      override def close(errorOrNull: Throwable): Unit =
        if (client != null) client.close()
    }

  /** Streaming upsert sink via ForeachWriter. */
  def upsert(df: DataFrame, keyCol: String, valueCol: String,
      clientFactory: () => UpsertClient): DataStreamWriter[Row] =
    df.writeStream.foreach(upsertWriter(keyCol, valueCol, clientFactory))

  /** Socket sink (reference java/.../sink/SocketSinkDemo.java:17
    * `writeToSocket`): one line per row over a TCP connection, one
    * connection per partition per micro-batch (the RichSinkFunction
    * open/invoke/close lifecycle). At-least-once — a socket is not a
    * transactional store; route through [[idempotentForeachBatch]] + an
    * idempotent receiver when effects must be exactly-once.
    */
  def socketWriter(host: String, port: Int,
      encode: Row => String = _.mkString(",")): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      // NOT a PrintWriter: PrintWriter swallows IOExceptions (sets an
      // internal flag), which would silently drop the rest of a partition
      // on a broken connection while Spark still commits the epoch —
      // at-least-once requires the write failure to THROW so the task
      // retries
      @transient private var sock: java.net.Socket = _
      @transient private var out: java.io.BufferedWriter = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        sock = new java.net.Socket(host, port)
        out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream,
            java.nio.charset.StandardCharsets.UTF_8))
        true
      }
      override def process(row: Row): Unit = {
        out.write(encode(row))
        out.write('\n')
      }
      override def close(errorOrNull: Throwable): Unit =
        // flush may throw (that's the point — the task must retry), but
        // the socket must close either way or every retry leaks an FD
        try { if (out != null && errorOrNull == null) out.flush() }
        finally { if (sock != null) sock.close() }
    }

  /** Streaming socket sink via ForeachWriter. */
  def socket(df: DataFrame, host: String, port: Int,
      encode: Row => String = _.mkString(",")): DataStreamWriter[Row] =
    df.writeStream.foreach(socketWriter(host, port, encode))

  /** Run one micro-batch exactly once: a committed-batch marker under
    * `ledgerDir` makes a checkpoint-replayed batchId a no-op. The marker
    * is written only AFTER `write` succeeds, so a crash between write and
    * marker re-runs the batch — `write` must therefore be idempotent per
    * batch (overwrite-by-batchId, upsert), which this ledger upgrades to
    * exactly-once visible effects.
    */
  def runIdempotent(batch: DataFrame, batchId: Long, ledgerDir: String)(
      write: (DataFrame, Long) => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$ledgerDir/batch-$batchId")
    val fs = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) false
    else {
      write(batch, batchId)
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      true
    }
  }

  /** Exactly-once foreachBatch for non-transactional stores (the
    * reference's exactly-once StreamingFileSink story generalized): Spark
    * replays the last uncommitted micro-batch after restart; the ledger
    * skips batchIds whose effects are already committed.
    */
  def idempotentForeachBatch(df: DataFrame, ledgerDir: String)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      runIdempotent(batch, id, ledgerDir)(write)
      ()
    }
}
