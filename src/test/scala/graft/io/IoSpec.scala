package graft.io

import graft.{SparkSpec, Tables}
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** IO surface round-trips (reference §2.1/§2.2): file-format sinks feed
  * file-stream sources and converge to the batch answer; the pluggable
  * upsert writer sees the RichSinkFunction open/process/close lifecycle.
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("csv sink -> csv stream source round-trip equals batch") {
    val out = java.nio.file.Files.createTempDirectory("io_csv").toString
    val batch = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    batch.write.mode("overwrite").csv(out)

    val streamed = Sources.csvStream(spark, out, batch.schema)
      .groupBy().agg(count(lit(1)).as("n"),
        sum($"o_orderkey").as("key_sum"))
    val q = streamed.writeStream.format("memory").queryName("io_csv_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("io_csv_out").as[(Long, Long)].head()
      assert(got._1 == batch.count())
      assert(got._2 == batch.agg(sum($"o_orderkey")).as[Long].head())
    } finally q.stop()
  }

  test("rolling file sink writes parquet a batch reader can audit") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("io_roll").toString
    // data BEFORE start: an AvailableNow query can drain an empty source
    // and finish before addData, leaving no files (race)
    ms.addData((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    val q = Sinks.rollingFiles(ms.toDF().toDF("id", "payload"), "parquet",
        s"$out/data", s"$out/ckpt", maxRecordsPerFile = 2)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val readBack = spark.read.parquet(s"$out/data")
    assert(readBack.count() == 5)
    // maxRecordsPerFile bounds file size (>= ceil(5/2) part files)
    assert(readBack.inputFiles.length >= 3)
  }

  test("orc round-trip: batch write -> orc/orcStream read; filters push to the scan") {
    val out = java.nio.file.Files.createTempDirectory("io_orc").toString
    val batch = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    batch.write.mode("overwrite").orc(out)

    val back = Sources.orc(spark, out)
    assert(back.count() == batch.count())
    // pushdown parity with parquet: the predicate reaches the ORC scan
    val filtered = back.filter($"o_orderkey" < 100)
    val scanStr = PlanWalk.finalPlan(filtered).toString
    assert(scanStr.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)"),
      s"filter not pushed to ORC scan:\n$scanStr")

    val streamed = Sources.orcStream(spark, out, batch.schema)
      .groupBy().agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
    val q = streamed.writeStream.format("memory").queryName("io_orc_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("io_orc_out").as[(Long, Long)].head()
      assert(got._1 == batch.count())
      assert(got._2 == batch.agg(sum($"o_orderkey")).as[Long].head())
    } finally q.stop()
  }

  test("json round-trip: batch write -> json/jsonStream read equals batch") {
    val out = java.nio.file.Files.createTempDirectory("io_json").toString
    val batch = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    batch.write.mode("overwrite").json(out)
    assert(Sources.json(spark, out, batch.schema).count() == batch.count())
    val streamed = Sources.jsonStream(spark, out, batch.schema)
      .groupBy().agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
    val q = streamed.writeStream.format("memory").queryName("io_json_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("io_json_out").as[(Long, Long)].head()
      assert(got._1 == batch.count())
      assert(got._2 == batch.agg(sum($"o_orderkey")).as[Long].head())
    } finally q.stop()
  }

  test("rolling file sink also writes orc (format is a parameter, not a fork)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("io_roll_orc").toString
    ms.addData((1L, "a"), (2L, "b"), (3L, "c"))
    val q = Sinks.rollingFiles(ms.toDF().toDF("id", "payload"), "orc",
        s"$out/data", s"$out/ckpt", maxRecordsPerFile = 2)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    assert(Sources.orc(spark, s"$out/data").count() == 3)
  }

  test("rate-derived synthetic sources expose the documented schemas") {
    val s = Sources.sensorSource(spark)
    assert(s.isStreaming)
    assert(s.schema.fieldNames.toSeq == Seq("id", "ts", "temperature"))
    val e = Sources.enumSource(spark, Seq("LOW", "HIGH"))
    assert(e.isStreaming)
    assert(e.schema.fieldNames.toSeq == Seq("ts", "level"))
  }

  test("idempotent batch ledger makes replayed batchIds no-ops") {
    val ledger = java.nio.file.Files.createTempDirectory("ledger").toString
    val batch = Seq((1, "a")).toDF("id", "v")
    var writes = 0
    def write(df: org.apache.spark.sql.DataFrame, id: Long): Unit = writes += 1
    assert(Sinks.runIdempotent(batch, 7L, ledger)(write))   // first run writes
    assert(!Sinks.runIdempotent(batch, 7L, ledger)(write))  // replay skipped
    assert(Sinks.runIdempotent(batch, 8L, ledger)(write))   // next batch writes
    assert(writes == 2)
  }

  test("upsert writer drives the open/process/close client lifecycle") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = Sinks.upsert(ms.toDF().toDF("k", "v").coalesce(1), "k", "v",
        () => IoSpec.newClient()).start()
    try {
      ms.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      ms.addData(("a", 3L)); q.processAllAvailable() // upsert overwrites
      val store = IoSpec.store
      assert(store.get("a") == Some("3") && store.get("b") == Some("2"))
      assert(IoSpec.opens.get() == IoSpec.closes.get()) // lifecycle balanced
      assert(IoSpec.opens.get() >= 2)
    } finally q.stop()
  }

  test("socket sink delivers one line per row to a TCP server") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // loopback line-collecting server
    val server = new java.net.ServerSocket(0)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val accepter = new Thread(() => {
      try {
        while (!server.isClosed) {
          val s = server.accept()
          val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
            s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
          var line = rd.readLine()
          while (line != null) { received.add(line); line = rd.readLine() }
          s.close()
        }
      } catch { case _: java.net.SocketException => () } // closed
    })
    accepter.setDaemon(true)
    accepter.start()
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = Sinks.socket(ms.toDF().toDF("k", "v").coalesce(1),
      "127.0.0.1", server.getLocalPort).start()
    try {
      ms.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      ms.addData(("c", 3L)); q.processAllAvailable()
      // the writer flushes on close (end of partition); poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (received.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val lines = received.toArray(Array.empty[String]).toSet
      assert(lines == Set("a,1", "b,2", "c,3"), s"got $lines")
    } finally { q.stop(); server.close() }
  }
}

/** Static in-memory upsert store (executors and driver share the JVM in
  * local mode, so statics observe the writer's effects).
  */
object IoSpec {
  import java.util.concurrent.atomic.AtomicInteger
  val store = new scala.collection.concurrent.TrieMap[String, String]()
  val opens = new AtomicInteger(0)
  val closes = new AtomicInteger(0)
  def newClient(): Sinks.UpsertClient = new Sinks.UpsertClient {
    def open(): Unit = opens.incrementAndGet()
    def upsert(key: String, value: String): Unit = store.put(key, value)
    def close(): Unit = closes.incrementAndGet()
  }
}
