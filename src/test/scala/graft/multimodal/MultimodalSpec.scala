package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2, 3, 4)
  private val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  private val wav = "RIFF1234WAVE".getBytes("UTF-8")
  private val junk = "hello world bytes".getBytes("UTF-8")

  /** (id, width, height, channels) as `decodePartitioned` returns them. */
  private type Dims = (Long, Option[Int], Option[Int], Option[Int])

  private def payloads = Seq((1L, jpeg), (2L, png), (3L, wav), (4L, junk))
    .toDF("id", "payload")

  test("magic-byte format sniffing") {
    val out = Multimodal.withBinaryMeta(payloads, "payload")
      .select("id", "format").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "jpeg", 2L -> "png", 3L -> "riff", 4L -> "unknown"))
  }

  test("binary meta: size + stable content hash dedups identical payloads") {
    val dup = Seq((1L, jpeg), (2L, jpeg), (3L, png)).toDF("id", "payload")
    val meta = Multimodal.withBinaryMeta(dup, "payload")
    assert(meta.filter($"id" === 1L).select("byte_size").as[Int].head() == 8)
    val hashes = meta.select("id", "content_hash").as[(Long, Long)].collect().toMap
    assert(hashes(1L) == hashes(2L) && hashes(1L) != hashes(3L))
  }

  test("decode/resize stubs are deterministic and bounded") {
    val out = Multimodal.withBinaryMeta(payloads, "payload")
      .withColumn("img", Multimodal.decodeStub($"payload"))
      .withColumn("small", Multimodal.resizeStub($"img", 64))
      .select($"id", $"img.width", $"img.height", $"small.width".as("sw"), $"small.height".as("sh"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Int]("width") >= 32 && r.getAs[Int]("sw") <= 64 &&
        r.getAs[Int]("sh") <= 64)
    }
    // deterministic across evaluations
    val again = Multimodal.withBinaryMeta(payloads, "payload")
      .withColumn("img", Multimodal.decodeStub($"payload"))
      .select($"id", $"img.width").as[(Long, Int)].collect().toMap
    assert(again == out.map(r => r.getAs[Long]("id") -> r.getAs[Int]("width")).toMap)
  }

  test("frame sampling explodes duration/fps metadata") {
    val vids = Seq((1L, jpeg, 10.0), (2L, png, 2.5)).toDF("id", "payload", "duration")
    val frames = Multimodal.sampleFrames(
      Multimodal.withBinaryMeta(vids, "payload"), "duration", everyNSec = 2.5)
    val counts = frames.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 5L, 2L -> 2L)) // 0,2.5,5,7.5,10 and 0,2.5
  }

  test("partition-batched decode: codec lifecycle, batch shape, stable output") {
    import graft.multimodal.Multimodal
    val df = spark.range(0, 200)
      .selectExpr("id AS doc_id", "CAST(concat('payload_', id) AS BINARY) AS payload")
    val opens = spark.sparkContext.longAccumulator("opens")
    val closes = spark.sparkContext.longAccumulator("closes")
    val maxBatch = spark.sparkContext.longAccumulator("maxBatch")
    val decoded = Multimodal.decodePartitioned(df, "doc_id", "payload",
      () => new Multimodal.StubCodec {
        override def open(): Unit = { opens.add(1); super.open() }
        override def decodeBatch(p: Seq[Array[Byte]]): Seq[(Int, Int, Int)] = {
          maxBatch.add(math.max(0, p.size - 64)) // records any over-size batch
          super.decodeBatch(p)
        }
        override def close(): Unit = { closes.add(1); super.close() }
      }, batchSize = 64)
    val rows = decoded.collect()
    assert(rows.length == 200)
    assert(rows.forall(r => r.getInt(1) >= 32 && r.getInt(2) >= 32))
    assert(maxBatch.value == 0, "a decode batch exceeded batchSize")
    assert(opens.value > 0 && opens.value == closes.value,
      s"codec lifecycle unbalanced: ${opens.value} opens, ${closes.value} closes")
    // deterministic: re-decoding yields identical dimensions
    val again = Multimodal.decodePartitioned(df, "doc_id", "payload",
      () => new Multimodal.StubCodec, 64).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("partition-batched decode: a null payload skips the codec and has NULL dims") {
    import graft.multimodal.Multimodal
    // q59's shape: binary payloads cast from text, one row with null text
    val df = Seq((1L, Some("alpha")), (2L, None), (3L, Some("gamma")))
      .toDF("doc_id", "text").withColumn("payload", $"text".cast("binary"))
    def decode(codec: () => Multimodal.BatchCodec): Map[Long, Dims] =
      Multimodal.decodePartitioned(df.coalesce(1), "doc_id", "payload", codec, 2)
        .as[Dims].collect().map(r => r._1 -> r).toMap
    // Md5Codec agrees with its Column twin, the law q59's oracle replays:
    // md5 of NULL is NULL, and channels is the literal 3
    val want = df.select($"doc_id",
        Multimodal.decodeStubMd5($"payload").as("d"))
      .select($"doc_id", $"d.width", $"d.height", $"d.channels")
      .as[Dims].collect().map(r => r._1 -> r).toMap
    val md5 = decode(() => new Multimodal.Md5Codec)
    assert(md5 == want)
    assert(md5(2L) == ((2L, None, None, Some(3))))
    assert(md5(1L)._2.isDefined && md5(3L)._3.isDefined)
    assert(decode(() => new Multimodal.StubCodec)(2L) == ((2L, None, None, Some(3))))
    assert(decode(() => new HeaderCodec)(2L) == ((2L, None, None, None)))
  }

  test("near-dup pipeline: identical payloads -> cosine 1.0 pair") {
    val dup = Seq((1L, jpeg), (2L, jpeg), (3L, png), (4L, wav)).toDF("id", "payload")
    val pairs = Multimodal.nearDupPipeline(dup, "id", "payload")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}
