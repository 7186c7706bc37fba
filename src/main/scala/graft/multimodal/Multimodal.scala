package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: images/audio/video
  * travel as opaque `binary` columns plus typed metadata, exactly like a
  * 100 TB multimodal corpus (payload bytes in parquet, decode at the
  * edge).
  *
  * Split of real vs stub (this container has no image/audio codecs):
  *  - REAL: schema conventions, metadata extraction (size, content
  *    fingerprint, magic-byte format sniffing), partition-friendly batch
  *    shapes, frame/window sampling plumbing, the embedding hand-off into
  *    graft.operators.Similarity.
  *  - STUB: the pixel/sample decode itself — `decodeStub`/`embedStub`
  *    produce deterministic fake values derived from the payload hash, so
  *    every downstream operator is drivable end-to-end and swapping in a
  *    real codec changes one function.
  */
object Multimodal {

  /** Magic-byte format sniffing over the first payload bytes — pure
    * Column ops on binary (hex compare), no codec needed.
    */
  def sniffFormat(bin: Column): Column = {
    val head8 = hex(substring(bin, 1, 8))
    when(head8.startsWith("FFD8FF"), "jpeg")
      .when(head8.startsWith("89504E47"), "png")
      .when(head8.startsWith("47494638"), "gif")
      .when(head8.startsWith("52494646"), "riff") // wav/avi container
      .when(head8.startsWith("494433"), "mp3")
      .when(head8.startsWith("000000"), "mp4?")   // ftyp boxes vary
      .otherwise("unknown")
  }

  /** Payload metadata: byte size, xxhash64 content fingerprint, sniffed
    * format. The fingerprint is the exact-dedup key for binary payloads.
    */
  def withBinaryMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("byte_size", length(col(binCol)))
      .withColumn("content_hash", xxhash64(col(binCol)))
      .withColumn("format", sniffFormat(col(binCol)))

  /** STUB image decode: deterministic fake (width, height, channels)
    * derived from the payload hash. Real implementation: a vectorized
    * decode over Arrow batches (mapInPandas/mapInArrow shape) — the
    * plumbing (one row in, one struct out, partition-parallel) is
    * identical.
    */
  def decodeStub(bin: Column): Column = struct(
    (pmod(xxhash64(bin), lit(1920)) + 32).cast("int").as("width"),
    (pmod(xxhash64(bin, lit(1)), lit(1080)) + 32).cast("int").as("height"),
    lit(3).as("channels"))

  /** STUB resize: scales the fake dimensions — shape-preserving metadata
    * transform (real version maps the payload too).
    */
  def resizeStub(decoded: Column, maxSide: Int): Column = {
    val w = decoded.getField("width")
    val h = decoded.getField("height")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h))
    struct(
      ceil(w * scale).cast("int").as("width"),
      ceil(h * scale).cast("int").as("height"),
      decoded.getField("channels").as("channels"))
  }

  /** STUB feature extraction: deterministic pseudo-embedding from payload
    * bytes (dim floats in [-1,1] from xxhash64(payload, i)). Feeds the
    * real ANN/near-dup operators so the whole multimodal dedup pipeline
    * runs end-to-end today.
    */
  def embedStub(bin: Column, dim: Int): Column =
    array((0 until dim).map { i =>
      (pmod(xxhash64(bin, lit(i)), lit(2000)).cast("double") / 1000.0 - 1.0)
        .cast("float")
    }: _*)

  /** Oracle-reproducible twin of [[withBinaryMeta]]: the content
    * fingerprint is md5 (hex string) instead of xxhash64, so an external
    * SQL engine verifies the full metadata pipeline bit-for-bit.
    */
  def withBinaryMetaMd5(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("byte_size", length(col(binCol)))
      .withColumn("content_hash", md5(col(binCol)))
      .withColumn("format", sniffFormat(col(binCol)))

  /** Oracle-reproducible twin of [[decodeStub]]: fake dimensions from md5
    * hex substrings instead of xxhash64 — same (width, height, channels)
    * law shape, reproducible in any engine with md5.
    */
  def decodeStubMd5(bin: Column): Column = struct(
    (pmod(conv(substring(md5(bin), 1, 8), 16, 10).cast("long"), lit(1920L)) + 32)
      .cast("int").as("width"),
    (pmod(conv(substring(md5(bin), 9, 8), 16, 10).cast("long"), lit(1080L)) + 32)
      .cast("int").as("height"),
    lit(3).as("channels"))

  /** Oracle-reproducible twin of [[embedStub]]: element i derives from
    * md5(hex(payload) || ":" || i). Values are exact multiples of 1/1000
    * in [-1, 1) — integer-reproducible across engines.
    */
  def embedStubMd5(bin: Column, dim: Int): Column =
    array((0 until dim).map { i =>
      (pmod(conv(substring(md5(concat(hex(bin), lit(s":$i"))), 1, 8), 16, 10)
        .cast("long"), lit(2000L)).cast("double") / 1000.0 - 1.0).cast("float")
    }: _*)

  /** Video frame sampling plumbing: given per-row duration + fps metadata,
    * emit one row per sampled frame timestamp (every `everyNSec`). The
    * frame decode itself is the stub; the explode/partition shape — the
    * part that matters at 100 TB (rows explode ~duration×, so repartition
    * after, not before) — is real.
    */
  def sampleFrames(df: DataFrame, durationCol: String, everyNSec: Double)
      : DataFrame =
    df.withColumn("frame_idx", explode(sequence(lit(0L),
        floor(col(durationCol) / everyNSec).cast("long"))))
      .withColumn("frame_ts", col("frame_idx") * everyNSec)
      .withColumn("frame_id",
        concat(col("content_hash"), lit("@"), col("frame_ts")))

  /** Partition-batched decode plumbing — the Scala analog of a Pandas UDF
    * over mapInPandas: one "codec" per partition (expensive init amortized
    * across the partition, the RichFunction open/close lifecycle),
    * iterator-in/iterator-out so nothing materializes per partition, rows
    * processed in bounded batches (the Arrow-batch shape). The decoder
    * itself is the stub; everything the 100 TB pipeline cares about —
    * schema, batch size, partition parallelism, codec lifecycle — is real.
    *
    * Swap `StubCodec` for a JNI/image-library codec and nothing else
    * changes. Input column must be BINARY; output appends (width, height,
    * channels).
    */
  trait BatchCodec extends Serializable {
    def open(): Unit
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Int, Int, Int)]
    def close(): Unit
    /** `channels` of a null payload, which never reaches [[decodeBatch]]:
      * NULL unless the codec's channel count is a constant of the codec.
      */
    def nullChannels: Option[Int] = None
  }

  /** Deterministic fake codec (no image libs in this environment): same
    * (width, height, channels) law as [[decodeStub]], computed JVM-side.
    */
  class StubCodec extends BatchCodec {
    var opened = false
    def open(): Unit = opened = true
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Int, Int, Int)] =
      payloads.map { b =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
          .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42)
        (math.floorMod(h, 1920) + 32, math.floorMod(h / 7, 1080) + 32, 3)
      }
    def close(): Unit = opened = false
    override def nullChannels: Option[Int] = Some(3)
  }

  /** Oracle-reproducible codec twin of [[StubCodec]]: dimensions from the
    * payload's md5 hex — same law as [[decodeStubMd5]], so an external SQL
    * engine verifies the whole partition-batched decode pipeline
    * (lifecycle + batching + schema) end to end.
    */
  class Md5Codec extends BatchCodec {
    @transient private var md: java.security.MessageDigest = _
    def open(): Unit = md = java.security.MessageDigest.getInstance("MD5")
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Int, Int, Int)] =
      payloads.map { b =>
        md.reset()
        val d = md.digest(b)
        // first/second 4 digest bytes == first/second 8 hex chars
        def u32(off: Int): Long =
          ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
            ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
        ((u32(0) % 1920L + 32L).toInt, (u32(4) % 1080L + 32L).toInt, 3)
      }
    def close(): Unit = md = null
    // the oracle's `3 AS channels` is a literal: it holds for NULL text too
    override def nullChannels: Option[Int] = Some(3)
  }

  /** Decode `binCol` partition-by-partition in batches of `batchSize`.
    * Returns (id, width, height, channels) — join back on the id for the
    * full row (keeps the decode exchange-free and the shuffled payload
    * bytes out of the decode output). A null payload skips the codec and
    * comes out with NULL width and height ([[BatchCodec.nullChannels]]).
    */
  def decodePartitioned(df: DataFrame, idCol: String, binCol: String,
      codecFactory: () => BatchCodec, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = codecFactory()
        codec.open()
        val batched = it.grouped(batchSize).flatMap { chunk =>
          val decoded = codec.decodeBatch(chunk.map(_._2).filter(_ != null))
            .iterator
          chunk.iterator.map {
            case (id, null) => (id, None, None, codec.nullChannels)
            case (id, _) =>
              val (w, h, c) = decoded.next()
              (id, Some(w), Some(h), Some(c))
          }
        }
        // close the codec when the partition iterator is exhausted
        new Iterator[(Long, Option[Int], Option[Int], Option[Int])] {
          def hasNext: Boolean = batched.hasNext || { codec.close(); false }
          def next() = batched.next()
        }
      }
      .toDF(idCol, "width", "height", "channels")
  }

  /** End-to-end multimodal near-dup pipeline: payload → meta → stub
    * embedding → blocked cosine near-dups. Swap `embedStub` for a real
    * encoder and nothing else changes ([[imageNearDupsByLuma]] is exactly
    * that swap).
    */
  def nearDupPipeline(df: DataFrame, idCol: String, binCol: String,
      dim: Int = 16, threshold: Double = 0.99): DataFrame = {
    val embedded = withBinaryMeta(df, binCol)
      .withColumn("embedding", embedStub(col(binCol), dim))
      .withColumn("block", pmod(col("content_hash"), lit(64)))
    graft.operators.Similarity.blockedNearDups(
      embedded, idCol, "embedding", "block", threshold)
  }

  /** REAL image resize, partition-batched: decode → downscale so
    * max(w, h) == `maxSide` (identity if smaller) → re-encode PNG.
    * Returns (id, payload, width, height) with the RESIZED payload and
    * its dimensions parsed back out of the new bytes (not trusted from
    * arithmetic) — unparseable rows surface as (null payload, -1, -1).
    * Map-only: no shuffle at any corpus size; join back on the id for
    * the full row, same contract as [[decodePartitioned]].
    */
  def resizePartitioned(df: DataFrame, idCol: String, binCol: String,
      maxSide: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-row work, no codec lifecycle: plain map (decodePartitioned
        // keeps the grouped/batched form because its codec is batch-wise)
        it.map { case (id, payload) =>
          ImageOps.resizeToMax(payload, maxSide) match {
            case Some(resized) =>
              val (w, h, _) = ImageHeader.decode(resized)
                .getOrElse((-1, -1, -1))
              (id, resized, w, h)
            case None => (id, null: Array[Byte], -1, -1)
          }
        }
      }
      .toDF(idCol, "payload", "width", "height")
  }

  /** REAL image embedding, partition-batched: decode → `grid`×`grid`
    * average-pooled luminance ([[ImageOps.lumaEmbedding]]). Returns
    * (id, embedding); unparseable rows drop out (they cannot be
    * near-dups). Map-only corpus pass — the 100 TB shape is identical
    * to the stub pipeline it replaces.
    */
  def embedPartitioned(df: DataFrame, idCol: String, binCol: String,
      grid: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          ImageOps.lumaEmbedding(payload, grid).map(e => (id, e))
        }
      }
      .toDF(idCol, "embedding")
  }

  /** REAL audio metadata, partition-batched: RIFF/WAVE header parse →
    * (id, sample_rate, channels, bits, n_frames, duration_ms). Same
    * map-only 100 TB shape as [[decodePartitioned]]; unparseable rows
    * surface as (-1, …) — corrupt rows are data, not exceptions.
    * duration_ms is integer arithmetic (frames*1000 div rate), so a SQL
    * oracle replays it exactly.
    */
  /** REAL video metadata, partition-batched: RIFF/AVI main-header parse
    * → (id, width, height, us_per_frame, n_frames, duration_ms). Same
    * map-only 100 TB shape as [[audioMetaPartitioned]]; unparseable rows
    * surface as (-1, …) — corrupt rows are data, not exceptions.
    * duration_ms is integer arithmetic (usPerFrame*frames div 1000), so
    * a SQL oracle replays it exactly. Compose with [[sampleFrames]] for
    * the frame-sampling stage (duration_ms/1000 is its duration input).
    */
  def videoMetaPartitioned(df: DataFrame, idCol: String, binCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          VideoHeader.decodeAvi(payload) match {
            case Some((w, h, usPerFrame, frames)) =>
              (id, w, h, usPerFrame, frames, usPerFrame * frames / 1000L)
            case None => (id, -1, -1, -1L, -1L, -1L)
          }
        }
      }
      .toDF(idCol, "width", "height", "us_per_frame", "n_frames",
        "duration_ms")
  }

  def audioMetaPartitioned(df: DataFrame, idCol: String, binCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          AudioHeader.decodeWav(payload) match {
            case Some((rate, ch, bits, frames)) =>
              (id, rate, ch, bits, frames, frames * 1000L / rate)
            case None => (id, -1, -1, -1, -1L, -1L)
          }
        }
      }
      .toDF(idCol, "sample_rate", "channels", "bits", "n_frames",
        "duration_ms")
  }

  /** REAL image near-dup detection: luma embeddings blocked by a
    * random-hyperplane LSH bucket, cosine-verified within blocks — the
    * [[nearDupPipeline]] shape with the stub swapped for real pixels.
    * A resized/re-encoded copy of an image lands in the same bucket
    * with high probability (the luma embedding is scale-invariant) and
    * verifies at cosine >= `threshold`; `planes <= 0` derives the
    * bucket count from the corpus size ([[graft.operators.Similarity
    * .planesFor]]), the same auto-sizing rule as the text LSH tier.
    */
  def imageNearDupsByLuma(df: DataFrame, idCol: String, binCol: String,
      threshold: Double = 0.98, grid: Int = 8, planes: Int = 0): DataFrame = {
    // Materialize the decode+embed pass ONCE: blockedNearDups self-joins
    // it (two consumers) and the auto-planes path sizes off it — without
    // the checkpoint every image would be pixel-decoded three times.
    // Plane sizing uses df.count() (input metadata, no decode);
    // unparseable rows only shift log2(n) negligibly.
    val p = if (planes > 0) planes
      else graft.operators.Similarity.planesFor(math.max(1L, df.count()))
    val embedded = graft.operators.Checkpoints.pin(
      embedPartitioned(df, idCol, binCol, grid))
    val blocked = embedded.withColumn("block",
      graft.functions.VectorFunctions.signatureBucket(
        graft.functions.VectorFunctions.hyperplaneSignature(
          col("embedding"), p)))
    graft.operators.Similarity.blockedNearDups(
      blocked, idCol, "embedding", "block", threshold)
  }
}
